package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.{DeltaLog, GraftSql, Merge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generated and identity columns — Delta writer features 4/6 (column
  * metadata `delta.generationExpression` / `delta.identity.*`):
  * write-time computation and enforcement, distributed id allocation
  * with a committed high-water mark, recompute-on-rewrite, and the DDL
  * clauses (`GENERATED ALWAYS AS (expr)`, `GENERATED {ALWAYS|BY
  * DEFAULT} AS IDENTITY`). Identity columns are the scale-correct
  * replacement for the reference's single-partition row_number
  * surrogate keys (SURVEY §7.4). */
class GeneratedIdentitySpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** Every path under `table` outside `_delta_log`. */
  private def dataTree(table: String): Set[String] = {
    val root = java.nio.file.Paths.get(table)
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(root.relativize(_).toString)
      .filterNot(_.startsWith("_delta_log")).toSet
    finally walk.close()
  }

  test("generated column is computed on append and declared partitioning is honored") {
    val t = fresh("graft-genspec-")
    GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (id BIGINT, ts TIMESTAMP, " +
        "yr INT GENERATED ALWAYS AS (year(ts))) PARTITIONED BY (yr)")
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2023-03-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-07-15 11:30:00")),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 00:00:01"))).toDF("id", "ts")
    DeltaLog.write(spark, rows, t, mode = "append")
    val back = DeltaLog.read(spark, t).select("id", "yr").as[(Long, Int)]
      .collect().toMap
    assert(back == Map(1L -> 2023, 2L -> 2024, 3L -> 2024))
    // the append inherited the table's partitioning: every file carries
    // a yr partition value, so partition pruning can skip whole files
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(p => p.contains("yr=2023") || p.contains("yr=2024")))
    val pruned = DeltaLog.pruneFiles(spark, snap, col("yr") === 2023)
    assert(pruned.nonEmpty && pruned.forall(_.contains("yr=2023")))
  }

  test("a provided generated-column value is enforced, not trusted") {
    val t = fresh("graft-genspec-")
    GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (id BIGINT, ts TIMESTAMP, " +
        "yr INT GENERATED ALWAYS AS (year(ts)))")
    val good = Seq((1L, java.sql.Timestamp.valueOf("2023-03-01 10:00:00"), 2023))
      .toDF("id", "ts", "yr")
    DeltaLog.write(spark, good, t, mode = "append")
    val bad = Seq((2L, java.sql.Timestamp.valueOf("2023-04-01 10:00:00"), 1999))
      .toDF("id", "ts", "yr")
    val tree = dataTree(t)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.write(spark, bad, t, mode = "append")
    }
    // the guard inside the staging write keeps the pre-pass's message
    assert(e.getMessage ==
      "requirement failed: generated-column invariant violated by APPEND: " +
        "yr := year(ts)", e.getMessage)
    // the refused write left no trace: no commit, no scratch dir, no file
    assert(DeltaLog.read(spark, t).count() == 1L)
    assert(dataTree(t) == tree, (dataTree(t) -- tree).toString)
  }

  test("UPDATE recomputes generated columns and refuses direct SET on them") {
    val t = fresh("graft-genspec-")
    GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (id BIGINT, ts TIMESTAMP, " +
        "yr INT GENERATED ALWAYS AS (year(ts)))")
    DeltaLog.write(spark, Seq(
      (1L, java.sql.Timestamp.valueOf("2023-03-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2023-06-01 10:00:00"))).toDF("id", "ts"),
      t, mode = "append")
    // SET on the base column: the generated column must follow
    DeltaLog.updateWhere(spark, t, col("id") === 2L,
      Map("ts" -> lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))))
    val back = DeltaLog.read(spark, t).select("id", "yr").as[(Long, Int)]
      .collect().toMap
    assert(back == Map(1L -> 2023, 2L -> 2025))
    val e = intercept[IllegalArgumentException] {
      DeltaLog.updateWhere(spark, t, col("id") === 1L, Map("yr" -> lit(1999)))
    }
    assert(e.getMessage.contains("generated/identity"))
  }

  test("identity allocation is dense from empty, unique across appends, hwm committed") {
    val t = fresh("graft-idspec-")
    GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (sk BIGINT GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 10 INCREMENT BY 5), name STRING)")
    DeltaLog.write(spark,
      (1 to 40).map(i => s"a$i").toDF("name").repartition(4), t, mode = "append")
    val first = DeltaLog.read(spark, t).select("sk").as[Long].collect().sorted
    assert(first.toSeq == (0 until 40).map(i => 10L + 5L * i))
    // the high-water mark rides in the committed schema metadata
    val md = DeltaLog.snapshot(spark, t).schema.get("sk").metadata
    assert(md.getLong("delta.identity.highWaterMark") == 10L + 5L * 39)
    // a second append continues above the mark — no overlap
    DeltaLog.write(spark,
      (1 to 7).map(i => s"b$i").toDF("name"), t, mode = "append")
    val all = DeltaLog.read(spark, t).select("sk").as[Long].collect()
    assert(all.length == 47)
    assert(all.distinct.length == 47)
    assert(all.forall(v => (v - 10L) % 5L == 0))
  }

  test("GENERATED ALWAYS refuses explicit ids; BY DEFAULT accepts and fences above them") {
    val always = fresh("graft-idspec-")
    GraftSql.exec(spark,
      s"CREATE TABLE delta.`$always` (sk BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)")
    val e = intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((99L, "x")).toDF("sk", "v"), always, mode = "append")
    }
    assert(e.getMessage ==
      "requirement failed: identity column sk is GENERATED ALWAYS — explicit " +
        "values refused (set delta.identity.allowExplicitInsert=true for " +
        "GENERATED BY DEFAULT)", e.getMessage)
    assert(DeltaLog.read(spark, always).count() == 0L)

    val byDefault = fresh("graft-idspec-")
    GraftSql.exec(spark,
      s"CREATE TABLE delta.`$byDefault` (sk BIGINT GENERATED BY DEFAULT AS " +
        "IDENTITY (START WITH 1 INCREMENT BY 1), v STRING)")
    DeltaLog.write(spark, Seq((100L, "explicit")).toDF("sk", "v"),
      byDefault, mode = "append")
    // later allocation starts ABOVE the explicit id
    DeltaLog.write(spark, Seq("gen1", "gen2").toDF("v"), byDefault, mode = "append")
    val ids = DeltaLog.read(spark, byDefault).select("sk").as[Long].collect().sorted
    assert(ids.toSeq == Seq(100L, 101L, 102L))
  }

  test("MERGE-inserted rows get fresh identity values; matched rows keep theirs") {
    val t = fresh("graft-idspec-")
    GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (sk BIGINT GENERATED ALWAYS AS IDENTITY, " +
        "k BIGINT, v STRING)")
    DeltaLog.write(spark,
      Seq((1L, "one"), (2L, "two")).toDF("k", "v"), t, mode = "append")
    val skOf = DeltaLog.read(spark, t).select("k", "sk").as[(Long, Long)]
      .collect().toMap
    val src = Seq((2L, "TWO"), (3L, "three")).toDF("k", "v")
    Merge.into(spark, t, src, keys = Seq("k"))
      .whenMatchedUpdate(Map("v" -> col("s.v")))
      .whenNotMatchedInsert(Map("k" -> col("s.k"), "v" -> col("s.v")))
      .execute()
    val after = DeltaLog.read(spark, t).select("k", "sk", "v")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(after(1L) == ((skOf(1L), "one")))
    assert(after(2L) == ((skOf(2L), "TWO")))     // update kept the id
    val inserted = after(3L)
    assert(inserted._2 == "three")
    assert(!skOf.values.toSet.contains(inserted._1)) // fresh id, no collision
    assert(after.values.map(_._1).toSeq.distinct.length == 3)
  }

  test("CREATE TABLE declares the writer versions the features demand") {
    val gen = fresh("graft-protospec-")
    GraftSql.exec(spark, s"CREATE TABLE delta.`$gen` (ts TIMESTAMP, " +
      "yr INT GENERATED ALWAYS AS (year(ts)))")
    val genProto = DeltaLog.snapshot(spark, gen).protocolJson.get
    assert(genProto.contains("\"minWriterVersion\":4"))
    val ident = fresh("graft-protospec-")
    GraftSql.exec(spark,
      s"CREATE TABLE delta.`$ident` (sk BIGINT GENERATED ALWAYS AS IDENTITY)")
    val identProto = DeltaLog.snapshot(spark, ident).protocolJson.get
    assert(identProto.contains("\"minWriterVersion\":6"))
    // a typo'd generation expression refuses at CREATE, not first write
    intercept[Exception] {
      GraftSql.exec(spark, s"CREATE TABLE delta.`${fresh("graft-protospec-")}` " +
        "(ts TIMESTAMP, yr INT GENERATED ALWAYS AS (year(ts))")
    }
  }

  test("overwrite keeps the feature columns the frame lacked") {
    val t = fresh("graft-idspec-")
    GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (sk BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)")
    DeltaLog.write(spark, Seq("a", "b").toDF("v"), t, mode = "append")
    // overwrite WITHOUT the identity column: the declaration must keep
    // it (with metadata) and the rewrite allocates fresh ids
    DeltaLog.write(spark, Seq("c", "d", "e").toDF("v"), t, mode = "overwrite")
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.schema.get.fieldNames.contains("sk"))
    assert(snap.schema.get("sk").metadata.contains("delta.identity.start"))
    val ids = DeltaLog.read(spark, t).select("sk").as[Long].collect()
    assert(ids.length == 3 && ids.distinct.length == 3)
  }
}
