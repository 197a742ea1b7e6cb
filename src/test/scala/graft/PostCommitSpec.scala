package graft

import java.nio.file.Files

import graft.sources.{DeltaLog, GraftSql, Merge}
import org.apache.spark.sql.functions._

/** Post-commit hooks run after EVERY Delta commit, whatever operation
  * made it, under the configuration that commit declares: a table's own
  * `delta.checkpointInterval` governs appends and MERGEs as much as
  * DELETE, RESTORE, FSCK or an ALTER. */
class PostCommitSpec extends SparkSpec {
  import spark.implicits._

  test("a table's own delta.checkpointInterval applies to every operation") {
    val t = Files.createTempDirectory("graft-postcommit-").toString + "/t"
    // interval 2 on the table; the session default stays 10
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t,
      properties = Map("delta.checkpointInterval" -> "2"))
    var next = 100L
    def append(): Long = {
      next += 1
      DeltaLog.write(spark, Seq((next, s"v$next")).toDF("k", "v"), t, "append")
    }
    def version: Long = DeltaLog.snapshot(spark, t).version
    def lastCheckpoint: Long = {
      val p = new java.io.File(t, "_delta_log/_last_checkpoint")
      if (!p.exists()) -1L
      else new com.fasterxml.jackson.databind.ObjectMapper().readTree(p)
        .get("version").asLong()
    }
    /** Pad with appends until the next commit lands at `v % every == rem`. */
    def landAt(every: Int, rem: Int): Unit =
      while ((version + 1) % every != rem) { append(); () }

    val ops: Seq[(String, () => Long)] = Seq(
      "append" -> (() => append()),
      "MERGE" -> (() => Merge.into(spark, t, Seq((2L, "B"), (3L, "c")).toDF("k", "v"),
        Seq("k")).whenMatchedUpdate(Map("v" -> col("s.v")))
        .whenNotMatchedInsert(Map("k" -> col("s.k"), "v" -> col("s.v"))).execute()),
      "UPDATE" -> (() => DeltaLog.updateWhere(spark, t, col("k") === 3L,
        Map("v" -> lit("C")))),
      "DELETE" -> (() => DeltaLog.deleteWhere(spark, t, col("k") === 1L)),
      "SET DOMAIN METADATA" -> (() =>
        DeltaLog.setDomainMetadata(spark, t, "graft.test", """{"n":1}""")),
      "RESTORE" -> (() => DeltaLog.restore(spark, t, 0L)),
      "FSCK" -> { () =>
        // a data file deleted out of band, then the repair commit
        val before = DeltaLog.snapshot(spark, t).files.toSet
        append()
        val added = DeltaLog.snapshot(spark, t).files.filterNot(before)
        assert(added.size == 1, added)
        assert(new java.io.File(t, added.head).delete())
        landAt(2, 0)
        assert(DeltaLog.fsckRepair(spark, t) == added)
        version
      },
      "ALTER SET TBLPROPERTIES" -> { () =>
        GraftSql.exec(spark,
          s"ALTER TABLE delta.`$t` SET TBLPROPERTIES ('graft.note'='x')")
        version
      })
    ops.foreach { case (name, op) =>
      landAt(2, 0)
      val v = op()
      assert(v % 2 == 0, s"$name landed at v$v")
      assert(lastCheckpoint == v,
        s"$name committed v$v under delta.checkpointInterval=2, " +
          s"but the last checkpoint is v$lastCheckpoint")
    }
    // an ALTER that sets the interval counts its own commit under the new
    // value: it lands on an odd multiple of 3, where 2 would not checkpoint
    landAt(6, 3)
    GraftSql.exec(spark,
      s"ALTER TABLE delta.`$t` SET TBLPROPERTIES ('delta.checkpointInterval'='3')")
    assert(version % 6 == 3)
    assert(lastCheckpoint == version,
      s"the ALTER to interval 3 committed v$version, " +
        s"but the last checkpoint is v$lastCheckpoint")
    // the table still reads exactly: RESTORE to v0 brought back (1,a),
    // (2,b); FSCK dropped the appended row whose file vanished
    val rows = DeltaLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(rows.get(1L).contains("a") && rows.get(2L).contains("b"), rows)
  }
}
