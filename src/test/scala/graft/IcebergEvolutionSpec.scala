package graft

import java.nio.file.Files

import graft.sources.IcebergTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Iceberg column-level schema evolution
  * ([[graft.sources.IcebergTable.alterAddColumns]]): metadata-only ADD
  * COLUMNS with fresh field ids, null-fill on pre-evolution files, and
  * FIELD-ID STABILITY across the evolution and later appends. */
class IcebergEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft-iceevo-").toString + "/t"

  /** (field name -> id, last-column-id) straight from the current
    * metadata JSON: the highest `v<N>.metadata.json`. */
  private def idsOf(t: String): (Map[String, Int], Int) = {
    val mdir = new java.io.File(t, "metadata")
    val current = mdir.list().collect {
      case n if n.matches("v\\d+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toInt
    }.max
    val json = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(mdir, s"v$current.metadata.json").toPath), "UTF-8")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val node =
      if (root.has("schemas")) {
        val want = root.get("current-schema-id").asInt()
        var found: com.fasterxml.jackson.databind.JsonNode = null
        root.get("schemas").elements().forEachRemaining { s =>
          if (s.get("schema-id").asInt() == want) found = s
        }
        found
      } else root.get("schema")
    val b = Map.newBuilder[String, Int]
    node.get("fields").elements().forEachRemaining { fl =>
      b += fl.get("name").asText() -> fl.get("id").asInt()
    }
    (b.result(), root.path("last-column-id").asInt(-1))
  }

  test("append -> evolve -> append: one read spans both schemas, ids stable") {
    val t = fresh()
    IcebergTable.writeAppend(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val (ids0, last0) = idsOf(t)
    assert(ids0 == Map("k" -> 1, "v" -> 2) && last0 == 2)

    IcebergTable.alterAddColumns(spark, t,
      StructType.fromDDL("score DOUBLE, tier STRING"))
    val (ids1, last1) = idsOf(t)
    // existing ids UNCHANGED, new ids fresh, last-column-id bumped
    assert(ids1 == Map("k" -> 1, "v" -> 2, "score" -> 3, "tier" -> 4), ids1)
    assert(last1 == 4)

    IcebergTable.writeAppend(spark,
      Seq((3L, "c", 1.5, "hot")).toDF("k", "v", "score", "tier"), t)
    // the post-append metadata rebuild must reproduce the SAME ids
    val (ids2, last2) = idsOf(t)
    assert(ids2 == ids1 && last2 == 4, s"$ids2 / $last2")

    // pre-evolution files null-fill the new columns
    assert(IcebergTable.read(spark, t)
      .as[(Long, String, Option[Double], Option[String])].collect().toSet ==
      Set((1L, "a", None, None), (2L, "b", None, None),
        (3L, "c", Some(1.5), Some("hot"))))
  }

  test("eq-delete written before the evolution still masks after it") {
    val t = fresh()
    IcebergTable.writeAppend(spark,
      Seq((1L, "keep"), (2L, "drop")).toDF("k", "v"), t)
    IcebergTable.deleteEquals(spark, t, Seq(2L).toDF("k"))
    IcebergTable.alterAddColumns(spark, t, StructType.fromDDL("extra INT"))
    IcebergTable.writeAppend(spark,
      Seq((2L, "reborn", 7)).toDF("k", "v", "extra"), t)
    // field-id resolution: the delete (field id 1 = k) still scopes
    // pre-delete files; the post-evolution re-insert of k=2 survives
    // (strictly-lower-seq rule)
    assert(IcebergTable.read(spark, t)
      .as[(Long, String, Option[Int])].collect().toSet ==
      Set((1L, "keep", None), (2L, "reborn", Some(7))))
  }

  test("evolution guards: clash, empty, appends must carry new columns") {
    val t = fresh()
    IcebergTable.writeAppend(spark, Seq((1L, "a")).toDF("k", "v"), t)
    val e = intercept[Exception] {
      IcebergTable.alterAddColumns(spark, t, StructType.fromDDL("v STRING"))
    }
    assert(e.getMessage.contains("already present"), e.getMessage)
    intercept[Exception] {
      IcebergTable.alterAddColumns(spark, t, new StructType())
    }
    IcebergTable.alterAddColumns(spark, t, StructType.fromDDL("w INT"))
    // an old-shape append after the evolution refuses (the writer's
    // schema check — callers must provide every column)
    val e2 = intercept[Exception] {
      IcebergTable.writeAppend(spark, Seq((2L, "b")).toDF("k", "v"), t)
    }
    assert(e2.getMessage.contains("schema mismatch"), e2.getMessage)
  }

  test("SQL verb + changelog sees evolved inserts with null-filled history") {
    val t = fresh()
    IcebergTable.writeAppend(spark, Seq((1L, "a")).toDF("k", "v"), t)
    graft.sources.GraftSql.exec(spark,
      s"ALTER TABLE iceberg.`$t` ADD COLUMNS (extra INT)")
    IcebergTable.writeAppend(spark, Seq((2L, "b", 5)).toDF("k", "v", "extra"), t)
    val got = IcebergTable.changes(spark, t)
      .select("k", "v", "extra", "_change_type", "_change_ordinal")
      .as[(Long, String, Option[Int], String, Int)].collect().toSet
    assert(got == Set(
      (1L, "a", None, "insert", 1),
      (2L, "b", Some(5), "insert", 2)), got)
  }
}
