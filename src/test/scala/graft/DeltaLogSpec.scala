package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.DeltaLog
import graft.sources.MergeClause.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** Read interop with the open Delta transaction-log protocol, against
  * hand-built `_delta_log` fixtures (JSON commits, partitioned layout,
  * parquet checkpoint + `_last_checkpoint`). */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-delta-").toString + "/t"

  /** Drop a single-file parquet at `rel` under the table root. */
  private def writeDataFile(df: DataFrame, table: String, rel: String): Unit = {
    val tmp = Files.createTempDirectory("graft-delta-part-").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new File(table, rel)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
  }

  private def commit(table: String, v: Long, actions: Seq[String]): Unit = {
    val dir = new File(table, "_delta_log"); dir.mkdirs()
    Files.write(new File(dir, f"$v%020d.json").toPath,
      (actions.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Every path under `table` outside `_delta_log`: a refused commit
    * must leave this set unchanged (no scratch dir, no data file). */
  private def dataTree(table: String): Set[String] = {
    val root = new File(table).toPath
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(root.relativize(_).toString)
      .filterNot(_.startsWith("_delta_log")).toSet
    finally walk.close()
  }

  private val xSchema = new StructType().add("x", "long")
  private def metaAction(schema: StructType, partCols: Seq[String] = Seq.empty) = {
    val esc = schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    val pc = partCols.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":$pc,"configuration":{},"createdTime":1700000000000}}"""
  }
  private def addAction(path: String) =
    s"""{"add":{"path":"$path","partitionValues":{},"size":1,"modificationTime":1700000000000,"dataChange":true}}"""
  private def removeAction(path: String) =
    s"""{"remove":{"path":"$path","deletionTimestamp":1700000001000,"dataChange":true}}"""

  test("replay of add/remove actions yields the live file set, with time travel") {
    val t = freshTable()
    writeDataFile(Seq(1L, 2L).toDF("x"), t, "part-0000-a.snappy.parquet")
    writeDataFile(Seq(3L).toDF("x"), t, "part-0001-b.snappy.parquet")
    writeDataFile(Seq(9L).toDF("x"), t, "part-0002-c.snappy.parquet")
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(xSchema),
      addAction("part-0000-a.snappy.parquet")))
    commit(t, 1, Seq(
      """{"commitInfo":{"operation":"WRITE"}}""",
      addAction("part-0001-b.snappy.parquet")))
    commit(t, 2, Seq( // overwrite: drop a, keep b, add c
      removeAction("part-0000-a.snappy.parquet"),
      addAction("part-0002-c.snappy.parquet")))

    assert(DeltaLog.listVersions(spark, t) == Seq(0L, 1L, 2L))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(3L, 9L))
    assert(DeltaLog.read(spark, t, Some(0)).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(DeltaLog.read(spark, t, Some(1)).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.version == 2 && snap.files.toSet ==
      Set("part-0001-b.snappy.parquet", "part-0002-c.snappy.parquet"))
    assert(snap.schema.contains(xSchema))
  }

  test("partitioned layout surfaces partition columns through basePath") {
    val t = freshTable()
    writeDataFile(Seq(1L).toDF("x"), t, "lang=en/part-0000.snappy.parquet")
    writeDataFile(Seq(2L).toDF("x"), t, "lang=fr/part-0001.snappy.parquet")
    commit(t, 0, Seq(
      metaAction(new StructType().add("x", "long").add("lang", "string"), Seq("lang")),
      addAction("lang=en/part-0000.snappy.parquet"),
      addAction("lang=fr/part-0001.snappy.parquet")))
    val df = DeltaLog.read(spark, t)
    assert(df.columns.toSet == Set("x", "lang"))
    assert(df.select("lang", "x").as[(String, Long)].collect().toSet ==
      Set(("en", 1L), ("fr", 2L)))
    assert(DeltaLog.snapshot(spark, t).partitionColumns == Seq("lang"))
    // partition filter prunes to one file (directory-level pruning)
    val pruned = df.where($"lang" === "en")
    assert(pruned.as[(Long, String)].collect().map(_._1).toSeq == Seq(1L))
  }

  test("checkpoint bounds replay: state from parquet + JSON suffix only") {
    val t = freshTable()
    writeDataFile(Seq(3L).toDF("x"), t, "part-0001-b.snappy.parquet")
    writeDataFile(Seq(9L).toDF("x"), t, "part-0002-c.snappy.parquet")
    writeDataFile(Seq(5L).toDF("x"), t, "part-0003-d.snappy.parquet")
    // versions 0..2 exist ONLY in the checkpoint (their JSON was vacuumed):
    // if the reader tried full JSON replay it would find nothing at v<=2
    val cpRows = Seq(
      (Some("part-0001-b.snappy.parquet"), None: Option[(String, Seq[String])]),
      (Some("part-0002-c.snappy.parquet"), None),
      (None, Some((xSchema.json, Seq.empty[String]))))
      .toDF("p", "m")
      .selectExpr("named_struct('path', p) AS add",
        "named_struct('schemaString', m._1, 'partitionColumns', m._2) AS metaData")
    val tmp = Files.createTempDirectory("graft-delta-cp-").toString
    cpRows.coalesce(1).write.mode("overwrite").parquet(tmp)
    val cpFile = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val logDir = new File(t, "_delta_log"); logDir.mkdirs()
    Files.move(cpFile.toPath,
      new File(logDir, f"${2L}%020d.checkpoint.parquet").toPath)
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      """{"version":2,"size":3}""".getBytes("UTF-8"))
    commit(t, 3, Seq( // JSON suffix after the checkpoint
      removeAction("part-0002-c.snappy.parquet"),
      addAction("part-0003-d.snappy.parquet")))

    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(3L, 5L))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.version == 3 && snap.schema.contains(xSchema))
    // reading AT the checkpoint version needs no JSON at all
    assert(DeltaLog.read(spark, t, Some(2)).as[Long].collect().sorted.toSeq == Seq(3L, 9L))
  }

  test("write: overwrite/append commits round-trip through the protocol reader") {
    val t = freshTable()
    assert(DeltaLog.write(spark, Seq(1L, 2L).toDF("x"), t) == 0L)
    assert(DeltaLog.write(spark, Seq(3L).toDF("x"), t, "append") == 1L)
    assert(DeltaLog.write(spark, Seq(9L).toDF("x"), t) == 2L) // overwrite
    assert(DeltaLog.read(spark, t).as[Long].collect().toSeq == Seq(9L))
    assert(DeltaLog.read(spark, t, Some(1)).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(DeltaLog.read(spark, t, Some(0)).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // overwrite removed, not deleted: old files still exist for time travel
    assert(DeltaLog.snapshot(spark, t).files.size == 1)
    // an orphan data file (simulated crash before commit) is invisible
    Seq(77L).toDF("x").coalesce(1).write.mode("overwrite")
      .parquet(new File(t, ".tmp-orphan").toString)
    val orphan = new File(t, ".tmp-orphan").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(orphan.toPath, new File(t, "part-orphan.snappy.parquet").toPath)
    assert(DeltaLog.read(spark, t).as[Long].collect().toSeq == Seq(9L))
  }

  test("write: partitioned commit records partitionValues and reads back pruned") {
    val t = freshTable()
    val df = Seq((1L, "en"), (2L, "fr"), (3L, "en")).toDF("x", "lang")
    DeltaLog.write(spark, df, t, partitionBy = Seq("lang"))
    val back = DeltaLog.read(spark, t)
    assert(back.columns.toSet == Set("x", "lang"))
    assert(back.as[(Long, String)].collect().toSet ==
      Set((1L, "en"), (2L, "fr"), (3L, "en")))
    // the log's add actions carry the partitionValues map (protocol field)
    val log = new String(Files.readAllBytes(
      new File(t, "_delta_log/00000000000000000000.json").toPath), "UTF-8")
    assert(log.contains(""""partitionValues":{"lang":"en"}"""), log)
    assert(log.contains(""""partitionValues":{"lang":"fr"}"""), log)
    assert(DeltaLog.snapshot(spark, t).partitionColumns == Seq("lang"))
  }

  test("write + checkpoint: JSON prefix becomes vacuumable") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L).toDF("x"), t)
    DeltaLog.write(spark, Seq(2L).toDF("x"), t, "append")
    assert(DeltaLog.checkpoint(spark, t) == 1L)
    DeltaLog.write(spark, Seq(3L).toDF("x"), t, "append") // v2, after the cp
    // vacuum the checkpointed JSON prefix — replay must not need it
    (0L to 1L).foreach(v =>
      Files.delete(new File(t, f"_delta_log/$v%020d.json").toPath))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(DeltaLog.snapshot(spark, t).version == 2L)
    // writes after a FULL vacuum (checkpoint only, no JSON left) must
    // number PAST the checkpoint, not restart at 0 (which replay ignores);
    // the vacuum also reclaims v2's now-unreferenced data file
    Files.delete(new File(t, f"_delta_log/${2L}%020d.json").toPath)
    new File(t).listFiles().filter(_.getName.startsWith("part-00002-"))
      .foreach(f => Files.delete(f.toPath))
    assert(DeltaLog.write(spark, Seq(9L).toDF("x"), t, "append") == 2L)
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
  }

  test("MERGE upsert on the protocol: recency guard + time travel across merges") {
    val t = freshTable()
    val v0 = DeltaLog.mergeUpsert(spark,  t,
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("id", "payload", "updated_at"),
      Seq("id"), "updated_at")
    assert(v0 == 0L)
    // newer update for 1, STALE row for 2 (guard must reject), new key 3
    val v1 = DeltaLog.mergeUpsert(spark, t,
      Seq((1L, "a2", 20L), (2L, "stale", 5L), (3L, "c", 20L))
        .toDF("id", "payload", "updated_at"),
      Seq("id"), "updated_at")
    assert(v1 == 1L)
    val state = DeltaLog.read(spark, t)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(state == Seq((1L, "a2", 20L), (2L, "b", 10L), (3L, "c", 20L)))
    // the pre-merge version remains readable — MERGE is just a commit
    val before = DeltaLog.read(spark, t, Some(0))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(before == Seq((1L, "a", 10L), (2L, "b", 10L)))
  }

  test("schema evolution: widened append emits new metaData, old files read as null") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L, 2L).toDF("x"), t)
    DeltaLog.write(spark, Seq((3L, "c")).toDF("x", "tag"), t, "append")
    val df = DeltaLog.read(spark, t)
    assert(df.schema.fieldNames.toSeq == Seq("x", "tag"))
    assert(df.as[(Long, Option[String])].collect().sortBy(_._1).toSeq ==
      Seq((1L, None), (2L, None), (3L, Some("c"))))
    // time travel sees the PRE-evolution schema
    assert(DeltaLog.read(spark, t, Some(0)).schema.fieldNames.toSeq == Seq("x"))
    // overwrite with a narrower schema re-declares it
    DeltaLog.write(spark, Seq(9L).toDF("x"), t)
    assert(DeltaLog.read(spark, t).schema.fieldNames.toSeq == Seq("x"))
  }

  test("addedSince feeds appended rows incrementally; refuses remove commits") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L).toDF("x"), t) // v0
    DeltaLog.write(spark, Seq(2L, 3L).toDF("x"), t, "append") // v1
    DeltaLog.write(spark, Seq(4L).toDF("x"), t, "append") // v2
    assert(DeltaLog.addedSince(spark, t, 0, 2).as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L))
    assert(DeltaLog.addedSince(spark, t, 1, 2).as[Long].collect().sorted.toSeq == Seq(4L))
    assert(DeltaLog.addedSince(spark, t, 2, 2).count() == 0)
    DeltaLog.write(spark, Seq(9L).toDF("x"), t) // v3 overwrite: removes files
    val e = intercept[RuntimeException](DeltaLog.addedSince(spark, t, 2, 3).count())
    assert(e.getMessage.contains("append-only"))
  }

  test("incremental view maintenance over the Delta change feed equals full recompute") {
    import graft.maintenance.IncrementalAgg
    import org.apache.spark.sql.functions.lit
    val t = freshTable()
    DeltaLog.write(spark, Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"), t) // v0
    var view = IncrementalAgg.materialize(DeltaLog.read(spark, t), Seq("k"), Seq("v"))
    DeltaLog.write(spark, Seq(("a", 3.0)).toDF("k", "v"), t, "append") // v1
    DeltaLog.write(spark, Seq(("c", 5.0), ("b", 1.0)).toDF("k", "v"), t, "append") // v2
    // the view advances by reading ONLY the files added in (0, 2] — the
    // full lakehouse incremental loop: log feed -> fold into aggregate
    val feed = DeltaLog.addedSince(spark, t, 0, 2)
      .withColumn("_change_type", lit("insert"))
    view = IncrementalAgg.applyDelta(view, feed, Seq("k"), Seq("v"))
    val full = IncrementalAgg.materialize(DeltaLog.read(spark, t), Seq("k"), Seq("v"))
    assert(view.exceptAll(full).isEmpty && full.exceptAll(view).isEmpty,
      s"view=${view.collect().toSeq} full=${full.collect().toSeq}")
  }

  test("txn (SetTransaction) state survives checkpoint + JSON vacuum") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L).toDF("x"), t, txn = Some("job-a" -> 0L))
    DeltaLog.write(spark, Seq(2L).toDF("x"), t, "append", txn = Some("job-a" -> 1L))
    DeltaLog.write(spark, Seq(3L).toDF("x"), t, "append", txn = Some("job-b" -> 7L))
    assert(DeltaLog.lastTxn(spark, t, "job-a").contains(1L))
    assert(DeltaLog.lastTxn(spark, t, "job-b").contains(7L))
    assert(DeltaLog.lastTxn(spark, t, "job-c").isEmpty)
    // checkpoint, then vacuum every JSON commit: txn state must come back
    // from the checkpoint parquet alone (real Delta stores setTransactions
    // in checkpoints for exactly this reason)
    DeltaLog.checkpoint(spark, t)
    new File(t, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(_.delete())
    assert(DeltaLog.lastTxn(spark, t, "job-a").contains(1L))
    assert(DeltaLog.lastTxn(spark, t, "job-b").contains(7L))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("optimize compacts to one file; vacuum deletes only unreferenced files") {
    val t = freshTable()
    // 4 append commits → 4 small files
    DeltaLog.write(spark, Seq(1L).toDF("x"), t)
    DeltaLog.write(spark, Seq(2L).toDF("x"), t, "append")
    DeltaLog.write(spark, Seq(3L).toDF("x"), t, "append")
    DeltaLog.write(spark, Seq(4L).toDF("x"), t, "append")
    assert(DeltaLog.snapshot(spark, t).files.size == 4)
    val v = DeltaLog.optimize(spark, t)
    assert(DeltaLog.snapshot(spark, t).files.size == 1)
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // pre-optimize version still time-travelable (files not yet deleted)
    assert(DeltaLog.read(spark, t, Some(v - 1)).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // vacuum keeping only the current snapshot: the 4 small files go,
    // the compacted file stays, current reads are untouched
    // the DEFAULT retention window refuses to reclaim young files — the
    // guard that makes vacuum safe next to concurrent writers
    assert(DeltaLog.vacuum(spark, t, keepVersions = 1) == 0)
    val deleted = DeltaLog.vacuum(spark, t, keepVersions = 1, retainMillis = 0L)
    assert(deleted == 4, s"deleted $deleted")
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // vacuum again: nothing left to delete (idempotent)
    assert(DeltaLog.vacuum(spark, t, keepVersions = 1, retainMillis = 0L) == 0)
  }

  test("vacuum never touches engine metadata trees (bloom index, manifests)") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L, 2L, 3L).toDF("x").coalesce(1), t)
    DeltaLog.write(spark, Seq(4L).toDF("x"), t, "append")
    graft.sources.BloomIndex.create(spark, t, Seq("x"))
    DeltaLog.generateSymlinkManifest(spark, t)
    // supersede both data files so vacuum has real work to do
    DeltaLog.optimize(spark, t)
    val deleted = DeltaLog.vacuum(spark, t, keepVersions = 1, retainMillis = 0L)
    assert(deleted == 2, s"deleted $deleted")
    // the bloom sidecar (parquet under _graft_index) and the symlink
    // manifests survived — underscore trees are engine metadata, not
    // vacuum candidates (the _change_data carve-out keeps its own
    // coverage in CdfWriteSpec)
    val bloomParts = Option(new java.io.File(s"$t/_graft_index/bloom")
      .listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
    assert(bloomParts.nonEmpty, "vacuum deleted the bloom index sidecar")
    assert(new java.io.File(s"$t/_symlink_format_manifest/manifest").exists(),
      "vacuum deleted the symlink manifest")
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("vacuum keepVersions=2 preserves the previous snapshot's files") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L, 2L).toDF("x").coalesce(1), t) // v0
    DeltaLog.write(spark, Seq(9L).toDF("x"), t)            // v1 overwrite
    DeltaLog.write(spark, Seq(10L).toDF("x"), t, "append") // v2
    // keep v1+v2: v0's file (not referenced by either) is deleted, but
    // v1's file (shared by v2's snapshot) survives
    assert(DeltaLog.vacuum(spark, t, keepVersions = 2, retainMillis = 0L) == 1)
    assert(DeltaLog.read(spark, t, Some(1)).as[Long].collect().toSeq == Seq(9L))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(9L, 10L))
  }

  test("MERGE is copy-on-write: untouched files stay live, removes are O(touched)") {
    val t = freshTable()
    // two single-file commits: file A holds keys 1,2; file B holds key 3
    DeltaLog.write(spark,
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("id", "payload", "updated_at").coalesce(1), t)
    DeltaLog.write(spark,
      Seq((3L, "c", 10L)).toDF("id", "payload", "updated_at").coalesce(1), t, "append")
    val before = DeltaLog.snapshot(spark, t).files.toSet
    val fileB = (before -- DeltaLog.snapshot(spark, t, Some(0)).files.toSet).head
    // merge touches key 1 only → file A rewritten, file B untouched
    DeltaLog.mergeUpsert(spark, t,
      Seq((1L, "a2", 20L), (4L, "d", 20L)).toDF("id", "payload", "updated_at"),
      Seq("id"), "updated_at")
    val after = DeltaLog.snapshot(spark, t).files.toSet
    assert(after.contains(fileB), s"untouched file $fileB was rewritten: $after")
    assert(!after.exists(DeltaLog.snapshot(spark, t, Some(0)).files.contains),
      "touched file A should have been removed")
    val state = DeltaLog.read(spark, t)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(state == Seq((1L, "a2", 20L), (2L, "b", 10L), (3L, "c", 10L), (4L, "d", 20L)))
  }

  test("changesBetween: delete+insert row feed; OPTIMIZE invisible; in-window adds cancel") {
    val t = freshTable()
    DeltaLog.write(spark,
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("id", "payload", "updated_at").coalesce(1), t)
    DeltaLog.write(spark,
      Seq((3L, "c", 10L)).toDF("id", "payload", "updated_at").coalesce(1), t, "append")
    // append-only window: inserts only
    val c01 = DeltaLog.changesBetween(spark, t, 0, 1)
    assert(c01.select("_change_type", "id").as[(String, Long)].collect().toSet ==
      Set(("insert", 3L)))
    // MERGE updating key 2 (stale, rejected) + key 1 (newer) + new key 4:
    // file A (keys 1,2) rewritten → delete(1,a)(2,b), insert(1,a2)(2,b)(4,d)
    val v2 = DeltaLog.mergeUpsert(spark, t,
      Seq((1L, "a2", 20L), (2L, "stale", 5L), (4L, "d", 20L))
        .toDF("id", "payload", "updated_at"), Seq("id"), "updated_at")
    val c12 = DeltaLog.changesBetween(spark, t, 1, v2)
      .select("_change_type", "id", "payload").as[(String, Long, String)].collect().toSet
    assert(c12 == Set(
      ("delete", 1L, "a"), ("delete", 2L, "b"),
      ("insert", 1L, "a2"), ("insert", 2L, "b"), ("insert", 4L, "d")), c12.toString)
    // OPTIMIZE rewrites everything but is dataChange=false → feed empty
    val v3 = DeltaLog.optimize(spark, t)
    assert(DeltaLog.changesBetween(spark, t, v2, v3).count() == 0)
    assert(DeltaLog.snapshot(spark, t).files.size == 1)
    // a file added then removed INSIDE one window cancels: merge twice on
    // the same key — the first merge's output file never surfaces
    val v4 = DeltaLog.mergeUpsert(spark, t,
      Seq((1L, "a3", 30L)).toDF("id", "payload", "updated_at"), Seq("id"), "updated_at")
    val v5 = DeltaLog.mergeUpsert(spark, t,
      Seq((1L, "a4", 40L)).toDF("id", "payload", "updated_at"), Seq("id"), "updated_at")
    val c35 = DeltaLog.changesBetween(spark, t, v3, v5)
      .select("_change_type", "id", "payload").as[(String, Long, String)].collect().toSeq
    assert(!c35.exists(_._3 == "a3"), s"intermediate merge output leaked: $c35")
    // the fold across the window still nets to the final state exactly
    assert(c35.count(r => r._1 == "insert" && r._3 == "a4") == 1)
  }

  test("changesWithUpdates: CDF update pre/post-image pairs from the file diff") {
    val t = freshTable()
    DeltaLog.write(spark,
      Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L))
        .toDF("id", "payload", "updated_at").coalesce(1), t)
    // MERGE: update key 1, stale key 2 (rewritten unchanged), insert key 4
    val v1 = DeltaLog.mergeUpsert(spark, t,
      Seq((1L, "a2", 20L), (2L, "stale", 5L), (4L, "d", 20L))
        .toDF("id", "payload", "updated_at"), Seq("id"), "updated_at")
    val cdf = DeltaLog.changesWithUpdates(spark, t, 0, v1, Seq("id"))
      .select("_change_type", "id", "payload").as[(String, Long, String)]
      .collect().toSet
    // keys 2 and 3 were rewritten byte-identical → no events at all
    assert(cdf == Set(
      ("update_preimage", 1L, "a"), ("update_postimage", 1L, "a2"),
      ("insert", 4L, "d")), cdf.toString)
    // an overwrite that drops a key surfaces it as a plain delete
    val v2 = DeltaLog.write(spark,
      Seq((1L, "a2", 20L), (2L, "b", 10L), (4L, "d", 20L))
        .toDF("id", "payload", "updated_at").coalesce(1), t)
    val cdf2 = DeltaLog.changesWithUpdates(spark, t, v1, v2, Seq("id"))
      .select("_change_type", "id").as[(String, Long)].collect().toSet
    assert(cdf2 == Set(("delete", 3L)), cdf2.toString)
  }

  test("random MERGE workloads: CDF events reconstruct every snapshot (seeded)") {
    // defense-in-depth for the CDC surface: six seeded-random merge
    // batches; after each, the CDF event stream applied to the previous
    // state model must land exactly on the new table state
    val rnd = new scala.util.Random(42)
    val t = freshTable()
    var model = Map.empty[Long, (String, Long)] // id -> (payload, ts)
    var consumed = -1L
    for (step <- 1 to 6) {
      val ids = rnd.shuffle((1L to 12L).toList).take(1 + rnd.nextInt(8))
      val batch = ids.map(id =>
        (id, s"p$step-$id-${rnd.nextInt(100)}", rnd.nextInt(100).toLong))
      val v = DeltaLog.mergeUpsert(spark, t,
        batch.toDF("id", "payload", "ts"), Seq("id"), "ts")
      val evs = DeltaLog.changesWithUpdates(spark, t, consumed, v, Seq("id"))
        .select("id", "payload", "ts", "_change_type")
        .as[(Long, String, Long, String)].collect().toSeq
      var next = model
      evs.filter(_._4 == "update_preimage").foreach(e =>
        assert(next.get(e._1).contains((e._2, e._3)), s"pre-image mismatch: $e"))
      evs.filter(_._4 == "delete").foreach { e =>
        assert(next.get(e._1).contains((e._2, e._3)), s"deleting absent row: $e")
        next -= e._1
      }
      evs.filter(_._4 == "insert").foreach { e =>
        assert(!next.contains(e._1), s"inserting present key: $e")
        next += e._1 -> ((e._2, e._3))
      }
      evs.filter(_._4 == "update_postimage").foreach(e =>
        next += e._1 -> ((e._2, e._3)))
      // the merge semantics model: strictly-newer source rows win
      batch.foreach { case (id, p, ts) =>
        model.get(id) match {
          case Some((_, cur)) if ts <= cur => ()
          case _ => model += id -> ((p, ts))
        }
      }
      assert(next == model, s"step $step: events diverge from merge model")
      val actual = DeltaLog.read(spark, t).as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(actual == model, s"step $step: table diverges from model")
      consumed = v
    }
  }

  test("incremental gold under MERGE updates: changesBetween fold equals full recompute") {
    import graft.maintenance.IncrementalAgg
    import org.apache.spark.sql.functions.col
    def assertSame(a: DataFrame, b: DataFrame): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"view=${a.collect().toSeq} full=${b.collect().toSeq}")
    val t = freshTable()
    val keys = Seq("g"); val sums = Seq("v")
    // v0: initial load, two groups
    var consumed = DeltaLog.mergeUpsert(spark, t,
      Seq((1L, "x", 1.0, 10L), (2L, "x", 2.0, 10L), (3L, "y", 4.0, 10L))
        .toDF("id", "g", "v", "ts"), Seq("id"), "ts")
    var gold = IncrementalAgg.materialize(DeltaLog.read(spark, t), keys, sums)
      .localCheckpoint(true)
    def step(rows: Seq[(Long, String, Double, Long)]): Unit = {
      val v = DeltaLog.mergeUpsert(spark, t, rows.toDF("id", "g", "v", "ts"),
        Seq("id"), "ts")
      gold = IncrementalAgg.applyDelta(gold,
        DeltaLog.changesBetween(spark, t, consumed, v), keys, sums)
        .localCheckpoint(true)
      consumed = v
      assertSame(gold, IncrementalAgg.materialize(DeltaLog.read(spark, t), keys, sums))
    }
    // update that MOVES a row across groups + a stale update (rejected,
    // rewritten unchanged → cancelling delete+insert) + a fresh insert
    step(Seq((2L, "y", 2.5, 20L), (3L, "y", 9.9, 5L), (4L, "z", 1.25, 20L)))
    // update every remaining x-row: group x must drop out of gold
    step(Seq((1L, "y", 0.5, 30L)))
    // compaction between consumptions must not disturb the fold
    val ov = DeltaLog.optimize(spark, t)
    gold = IncrementalAgg.applyDelta(gold,
      DeltaLog.changesBetween(spark, t, consumed, ov), keys, sums).localCheckpoint(true)
    consumed = ov
    step(Seq((5L, "x", 7.0, 40L)))
    val state = gold.select(col("g"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(state == Seq(("x", 1L, 7.0), ("y", 3L, 7.0), ("z", 1L, 1.25)), state.toString)
  }

  test("foreign writer: stats/tags on add, remove without dataChange — tolerated") {
    val t = freshTable()
    writeDataFile(Seq(1L, 2L).toDF("x"), t, "part-a.snappy.parquet")
    writeDataFile(Seq(3L).toDF("x"), t, "part-b.snappy.parquet")
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(xSchema),
      // stats string + tags: informational fields a Spark/Databricks
      // writer emits; the protocol requires readers to tolerate them
      """{"add":{"path":"part-a.snappy.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\"numRecords\":2,\"minValues\":{\"x\":1},\"maxValues\":{\"x\":2}}","tags":{"INSERTION_TIME":"1"}}}"""))
    commit(t, 1, Seq(
      addAction("part-b.snappy.parquet"),
      // remove WITHOUT dataChange field: defaults to true per protocol
      """{"remove":{"path":"part-a.snappy.parquet","deletionTimestamp":2}}"""))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(3L))
    // changesBetween applies the same default: the remove IS a data change
    val c = DeltaLog.changesBetween(spark, t, 0, 1)
      .select("_change_type", "x").as[(String, Long)].collect().toSet
    assert(c == Set(("delete", 1L), ("delete", 2L), ("insert", 3L)))
  }

  test("foreign writer: multi-part checkpoint reads as one state") {
    val t = freshTable()
    writeDataFile(Seq(1L).toDF("x"), t, "part-a.snappy.parquet")
    writeDataFile(Seq(2L).toDF("x"), t, "part-b.snappy.parquet")
    writeDataFile(Seq(5L).toDF("x"), t, "part-c.snappy.parquet")
    val logDir = new File(t, "_delta_log"); logDir.mkdirs()
    // state at v1 = {a, b} + schema, split across TWO checkpoint parts
    def cpPart(rows: Seq[(Option[String], Option[(String, Seq[String])])], idx: Int): Unit = {
      val df = rows.toDF("p", "m")
        .selectExpr("named_struct('path', p) AS add",
          "named_struct('schemaString', m._1, 'partitionColumns', m._2) AS metaData")
      val tmp = Files.createTempDirectory("graft-delta-cpp-").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        new File(logDir, f"${1L}%020d.checkpoint.$idx%010d.${2}%010d.parquet").toPath)
    }
    cpPart(Seq((Some("part-a.snappy.parquet"), None)), 1)
    cpPart(Seq((Some("part-b.snappy.parquet"), None),
      (None, Some((xSchema.json, Seq.empty[String])))), 2)
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      """{"version":1,"size":3,"parts":2}""".getBytes("UTF-8"))
    commit(t, 2, Seq(addAction("part-c.snappy.parquet")))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 5L))
    assert(DeltaLog.snapshot(spark, t).schema.contains(xSchema))
  }

  private val dvProtocol =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""

  private def dvAdd(path: String, d: graft.sources.DeletionVectors.Descriptor) =
    s"""{"add":{"path":"$path","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,""" +
      s""""deletionVector":{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}"""" +
      d.offset.fold("")(o => s""","offset":$o""") +
      s""","sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}}}"""

  test("foreign writer: inline deletion vector masks deleted rows on read") {
    import graft.sources.DeletionVectors
    val t = freshTable()
    writeDataFile(Seq(10L, 20L, 30L, 40L).toDF("x"), t, "part-a.snappy.parquet")
    // mask row indexes 1 and 3 → surviving rows 10, 30 (odd byte count
    // exercises the Base85 group padding too)
    val bytes = DeletionVectors.serialize(Array(1L, 3L))
    val d = DeletionVectors.Descriptor("i", DeletionVectors.z85Encode(bytes),
      None, bytes.length, 2L)
    commit(t, 0, Seq(dvProtocol, metaAction(xSchema), dvAdd("part-a.snappy.parquet", d)))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(10L, 30L))
    // round-trip sanity of the codec itself, including >4096-card bitmaps
    val big = (0L until 5000L).filter(_ % 3 == 0).toArray
    assert(DeletionVectors.deserialize(DeletionVectors.serialize(big)).toSeq == big.toSeq)
    assert(DeletionVectors.deserialize(DeletionVectors.z85Decode(
      DeletionVectors.z85Encode(DeletionVectors.serialize(Array(7L))))
      .take(DeletionVectors.serialize(Array(7L)).length)).toSeq == Seq(7L))
  }

  test("foreign writer: on-disk DV sidecar reads; CDF nets a DV update to its deletes") {
    import graft.sources.DeletionVectors
    val t = freshTable()
    writeDataFile(Seq(10L, 20L, 30L, 40L).toDF("x"), t, "part-a.snappy.parquet")
    commit(t, 0, Seq(dvProtocol, metaAction(xSchema), addAction("part-a.snappy.parquet")))
    // a foreign DELETE: same file re-added with a u-type sidecar masking
    // row index 1 (x=20)
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = DeletionVectors.writeDvFile(fsys, t, Array(1L))
    commit(t, 1, Seq(removeAction("part-a.snappy.parquet"), dvAdd("part-a.snappy.parquet", d)))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(10L, 30L, 40L))
    // time travel BEFORE the delete still sees every row
    assert(DeltaLog.read(spark, t, Some(0)).as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 30L, 40L))
    // the row-level feed reads each side under ITS descriptor: the only
    // net event in (0, 1] is the delete of x=20
    val cdf = DeltaLog.changesWithUpdates(spark, t, 0, 1, Seq("x"))
      .select("_change_type", "x").as[(String, Long)].collect().toSet
    assert(cdf == Set(("delete", 20L)), cdf.toString)
    // OPTIMIZE purges the DV: rows identical, no live descriptor left
    DeltaLog.optimize(spark, t)
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(10L, 30L, 40L))
    assert(DeltaLog.snapshot(spark, t).fileEntries.forall(_.dv.isEmpty))
  }

  test("foreign writer: name-mode column mapping reads under logical names") {
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField}
    val t = freshTable()
    val mapped = StructType(Seq(StructField("x", LongType, nullable = true,
      new MetadataBuilder().putLong("delta.columnMapping.id", 1L)
        .putString("delta.columnMapping.physicalName", "col-9f2a").build())))
    // the parquet file carries the PHYSICAL column name
    writeDataFile(Seq(1L, 2L).toDF("col-9f2a"), t, "part-a.snappy.parquet")
    val esc = mapped.json.replace("\\", "\\\\").replace("\"", "\\\"")
    commit(t, 0, Seq(
      s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"1"},"createdTime":1}}""",
      """{"add":{"path":"part-a.snappy.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\"numRecords\":2,\"minValues\":{\"col-9f2a\":1},\"maxValues\":{\"col-9f2a\":2},\"nullCount\":{\"col-9f2a\":0}}"}}"""))
    val df = DeltaLog.read(spark, t)
    assert(df.columns.toSeq == Seq("x"))
    assert(df.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // zone-map pruning translates logical → physical stat keys
    assert(DeltaLog.pruneFiles(spark, DeltaLog.snapshot(spark, t), $"x" === 5L).isEmpty)
    assert(DeltaLog.readPruned(spark, t, $"x" === 2L).as[Long].collect().toSeq == Seq(2L))
    // writes translate logical→physical: append then read back logically
    DeltaLog.write(spark, Seq(9L).toDF("x"), t, "append")
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
    // the appended file's parquet columns + stats speak physicalName
    val snap2 = DeltaLog.snapshot(spark, t)
    val newStats = snap2.allFiles.where("path NOT LIKE 'part-a%'")
      .select("stats").collect().map(_.getString(0))
    assert(newStats.nonEmpty && newStats.forall(_.contains("col-9f2a")), newStats.mkString)
    assert(DeltaLog.readPruned(spark, t, $"x" === 9L).as[Long].collect().toSeq == Seq(9L))
    // widening evolution MINTS the mapping: new column gets a fresh
    // physicalName + the next columnId, maxColumnId bumps
    DeltaLog.write(spark, Seq((10L, "w")).toDF("x", "extra"), t, "append")
    val snap3 = DeltaLog.snapshot(spark, t)
    val extraF = snap3.schema.get.fields.find(_.name == "extra").get
    assert(extraF.metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"))
    assert(extraF.metadata.getLong("delta.columnMapping.id") == 2L)
    assert(snap3.configuration("delta.columnMapping.maxColumnId") == "2")
    // old files surface null in the new column; new row reads back whole
    val rows = DeltaLog.read(spark, t).select("x", "extra")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, None), (2L, None), (9L, None), (10L, Some("w"))))
    // a nested-struct column still refuses (needs per-nested-field ids)
    val e = intercept[IllegalArgumentException](
      DeltaLog.write(spark,
        Seq((11L, (1L, "a"))).toDF("x", "nested"), t, "append"))
    assert(e.getMessage.contains("nested"), e.getMessage)
    // and an OVERWRITE may not introduce columns (append-only evolution)
    val e2 = intercept[IllegalArgumentException](
      DeltaLog.write(spark, Seq((12L, "o")).toDF("x", "other"), t))
    assert(e2.getMessage.contains("overwrite"), e2.getMessage)
  }

  test("name-mode column mapping: MERGE + DELETE + UPDATE round-trip") {
    import org.apache.spark.sql.types.{LongType, StringType, MetadataBuilder, StructField}
    val t = freshTable()
    def mf(name: String, tpe: org.apache.spark.sql.types.DataType, id: Long, phys: String) =
      StructField(name, tpe, nullable = true,
        new MetadataBuilder().putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys).build())
    val mapped = StructType(Seq(
      mf("k", LongType, 1L, "col-k9"), mf("v", StringType, 2L, "col-v7"),
      mf("ts", LongType, 3L, "col-t3")))
    writeDataFile(
      Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L))
        .toDF("col-k9", "col-v7", "col-t3"),
      t, "part-a.snappy.parquet")
    val esc = mapped.json.replace("\\", "\\\\").replace("\"", "\\\"")
    commit(t, 0, Seq(
      s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},"createdTime":1}}""",
      addAction("part-a.snappy.parquet")))

    // MERGE: update k=2 (newer ts), insert k=4; k=1,3 untouched
    val src = Seq((2L, "B", 20L), (4L, "d", 20L)).toDF("k", "v", "ts")
    DeltaLog.mergeUpsert(spark, t, src, Seq("k"), "ts")
    assert(DeltaLog.read(spark, t).select("k", "v").as[(Long, String)]
      .collect().sorted.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))

    // DELETE via deletion vectors
    DeltaLog.deleteWhere(spark, t, $"k" === 3L)
    assert(DeltaLog.read(spark, t).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L))

    // UPDATE copy-on-write
    DeltaLog.updateWhere(spark, t, $"k" === 1L,
      Map("v" -> org.apache.spark.sql.functions.lit("A")))
    assert(DeltaLog.read(spark, t).select("k", "v").as[(Long, String)]
      .collect().sorted.toSeq == Seq((1L, "A"), (2L, "B"), (4L, "d")))

    // a FRESH snapshot still reads under logical names, the mapping
    // metaData survived every commit, and stats key by physicalName
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.columnMappingMode == "name")
    assert(snap.schema.get.fieldNames.toSeq == Seq("k", "v", "ts"))
    val stats = snap.allFiles.where("stats IS NOT NULL")
      .select("stats").collect().map(_.getString(0))
    assert(stats.nonEmpty && stats.forall(s => s.contains("col-k9") && !s.contains("\"k\"")),
      stats.mkString("\n"))
    // and zone-map pruning still works post-DML
    assert(DeltaLog.readPruned(spark, t, $"k" === 4L)
      .select("v").as[String].collect().toSeq == Seq("d"))
    // OPTIMIZE compacts the mapped table without corrupting the mapping
    DeltaLog.optimize(spark, t)
    assert(DeltaLog.read(spark, t).select("k", "v").as[(Long, String)]
      .collect().sorted.toSeq == Seq((1L, "A"), (2L, "B"), (4L, "d")))
    assert(DeltaLog.snapshot(spark, t).columnMappingMode == "name")
  }

  test("foreign writer: id-mode column mapping resolves by parquet field id") {
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField}
    val t = freshTable()
    // the parquet file's column NAMES (u, v) match neither the logical
    // (x, s) nor the declared physical (p-1, p-2) names — only the field
    // ids (1, 2) identify them, which is exactly what id-mode permits
    def fid(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    val fileSchema = StructType(Seq(
      StructField("u", LongType, nullable = true, fid(1L)),
      StructField("v", StringType, nullable = true, fid(2L))))
    val data = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, "a"),
        org.apache.spark.sql.Row(2L, "b")), fileSchema)
    writeDataFile(data, t, "part-a.snappy.parquet")
    def lf(name: String, tpe: org.apache.spark.sql.types.DataType, id: Long, phys: String) =
      StructField(name, tpe, nullable = true,
        new MetadataBuilder().putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys).build())
    val logical = StructType(Seq(lf("x", LongType, 1L, "p-1"), lf("s", StringType, 2L, "p-2")))
    val esc2 = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    commit(t, 0, Seq(
      s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},"schemaString":"$esc2","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""",
      """{"add":{"path":"part-a.snappy.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\"numRecords\":2,\"minValues\":{\"p-1\":1},\"maxValues\":{\"p-1\":2},\"nullCount\":{\"p-1\":0}}"}}"""))
    val df = DeltaLog.read(spark, t)
    assert(df.columns.toSeq == Seq("x", "s"))
    assert(df.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
    // the field-id flag is session-scoped state: an id-mode read must not
    // flip it on the CALLER's session (it rides a child session instead)
    assert(!spark.conf.getOption("spark.sql.parquet.fieldId.read.enabled").contains("true"),
      "id-mode read leaked spark.sql.parquet.fieldId.read.enabled into the caller session")
    // zone-map pruning translates logical → physical stat keys in id mode
    assert(DeltaLog.pruneFiles(spark, DeltaLog.snapshot(spark, t), $"x" === 5L).isEmpty)
    assert(DeltaLog.readPruned(spark, t, $"x" === 2L)
      .select("s").as[String].collect().toSeq == Seq("b"))
    // id-mode writes stage under physical names WITH parquet field ids:
    // the appended file resolves by id like any foreign id-mode file
    DeltaLog.write(spark, Seq((9L, "z")).toDF("x", "s"), t, "append")
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (9L, "z")))
    assert(DeltaLog.readPruned(spark, t, $"x" === 9L)
      .select("s").as[String].collect().toSeq == Seq("z"))
    // id-mode evolution mints id=3 past the declared maxColumnId of 2
    DeltaLog.write(spark, Seq((10L, "w", 5L)).toDF("x", "s", "extra"), t, "append")
    val snapE = DeltaLog.snapshot(spark, t)
    assert(snapE.schema.get.fields.find(_.name == "extra").get
      .metadata.getLong("delta.columnMapping.id") == 3L)
    assert(snapE.configuration("delta.columnMapping.maxColumnId") == "3")
    assert(DeltaLog.read(spark, t).where($"extra".isNotNull)
      .select("x").as[Long].collect().toSeq == Seq(10L))
  }

  test("foreign writer: V2 checkpoint (manifest + sidecars) reads as one state") {
    val t = freshTable()
    writeDataFile(Seq(1L).toDF("x"), t, "part-a.snappy.parquet")
    writeDataFile(Seq(2L).toDF("x"), t, "part-b.snappy.parquet")
    writeDataFile(Seq(3L).toDF("x"), t, "part-c.snappy.parquet")
    val logDir = new File(t, "_delta_log"); logDir.mkdirs()
    val sidecarDir = new File(logDir, "_sidecars"); sidecarDir.mkdirs()
    // two sidecar parquets carry the add actions (one add each); the
    // third file's add lives directly in the manifest
    def sidecar(name: String, paths: Seq[String]): Unit = {
      val rows = paths.map(p => (Some(p), Option.empty[String])).toDF("p", "r")
        .selectExpr("named_struct('path', p, 'partitionValues', map(), " +
          "'size', CAST(1 AS BIGINT), 'modificationTime', CAST(1 AS BIGINT), " +
          "'dataChange', true) AS add")
      val tmp = Files.createTempDirectory("graft-v2-sc-").toString
      rows.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(sidecarDir, name).toPath)
    }
    sidecar("sc-1.parquet", Seq("part-a.snappy.parquet"))
    sidecar("sc-2.parquet", Seq("part-b.snappy.parquet"))
    val esc = xSchema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    // JSON manifest: checkpointMetadata + protocol + metaData + sidecar
    // pointers + one direct add
    Files.write(new File(logDir,
      f"${2L}%020d.checkpoint.80a083e8-7026.json").toPath,
      (Seq(
        """{"checkpointMetadata":{"version":2}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
        s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{},"createdTime":1}}""",
        """{"sidecarFile":{"path":"sc-1.parquet","sizeInBytes":100,"modificationTime":1}}""",
        """{"sidecarFile":{"path":"sc-2.parquet","sizeInBytes":100,"modificationTime":1}}""",
        """{"add":{"path":"part-c.snappy.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
        """{"txn":{"appId":"v2-app","version":7}}""").mkString("\n") + "\n")
        .getBytes("UTF-8"))
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      """{"version":2}""".getBytes("UTF-8"))
    // one JSON commit after the checkpoint: remove the manifest's add
    commit(t, 3, Seq(removeAction("part-c.snappy.parquet")))

    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.version == 3)
    assert(snap.files.toSet ==
      Set("part-a.snappy.parquet", "part-b.snappy.parquet"))
    assert(snap.txns.get("v2-app").contains(7L))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // state AT the checkpoint version (no JSON before it exists)
    assert(DeltaLog.read(spark, t, Some(2)).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("delta.checkpointPolicy=v2 selects the V2 layout by property") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L, 2L).toDF("x"), t,
      properties = Map("delta.checkpointPolicy" -> "v2"))
    DeltaLog.write(spark, Seq(3L).toDF("x"), t, "append")
    val cpv = DeltaLog.checkpoint(spark, t)
    val logFiles = new File(t, "_delta_log").listFiles().map(_.getName)
    assert(logFiles.exists(n => n.startsWith(f"$cpv%020d.checkpoint.") &&
      n.endsWith(".parquet") && n != f"$cpv%020d.checkpoint.parquet"),
      logFiles.mkString(","))
    assert(new File(t, "_delta_log/_sidecars").listFiles()
      .exists(_.getName.endsWith(".parquet")))
    // and the state reads back whole through the V2 checkpoint
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("V2 checkpoint WRITE: manifest + _sidecars round-trip after JSON vacuum") {
    // checkpoint symmetry: on a table whose reader features include
    // v2Checkpoint, OUR checkpoint writes the V2 layout its other
    // readers expect — manifest (checkpointMetadata + singletons +
    // sidecar pointers) and add rows in _delta_log/_sidecars/
    val t = freshTable()
    writeDataFile(Seq(1L, 2L).toDF("x"), t, "part-a.snappy.parquet")
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      metaAction(xSchema), addAction("part-a.snappy.parquet")))
    DeltaLog.write(spark, Seq(3L).toDF("x").coalesce(1), t, "append")   // v1
    DeltaLog.write(spark, Seq(4L).toDF("x").coalesce(1), t, "append")   // v2

    val cpv = DeltaLog.checkpoint(spark, t)
    assert(cpv == 2L)
    val logFiles = new File(t, "_delta_log").listFiles().map(_.getName)
    val manifest = logFiles.filter(n =>
      n.startsWith(f"${2L}%020d.checkpoint.") && n.endsWith(".parquet"))
    assert(manifest.length == 1, logFiles.mkString(","))
    // V2 naming (<v>.checkpoint.<uniqueStr>.parquet), never classic
    assert(manifest.head != f"${2L}%020d.checkpoint.parquet")
    val sidecars = new File(t, "_delta_log/_sidecars").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(sidecars.nonEmpty)
    // the manifest carries the spec-required checkpointMetadata and the
    // sidecar pointers; the add rows live in the sidecars
    val man = spark.read.parquet(s"$t/_delta_log/${manifest.head}")
    assert(man.columns.contains("checkpointMetadata"))
    assert(man.where("checkpointMetadata.version = 2").count() == 1)
    assert(man.where("sidecarFile IS NOT NULL").count() == sidecars.length.toLong)

    // metadata-clean every JSON commit: the V2 checkpoint alone must
    // reconstruct the state
    new File(t, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(_.delete())
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // zone-map pruning still feeds from the sidecar-carried stats
    assert(DeltaLog.readPruned(spark, t, $"x" === 4L).as[Long].collect().toSeq == Seq(4L))
    // and the log keeps working on top: append, then read through
    DeltaLog.write(spark, Seq(9L).toDF("x").coalesce(1), t, "append")   // v3
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 9L))
  }

  test("foreign writer: unknown reader features refuse loudly") {
    // reader feature this implementation does not honor
    val t3 = freshTable()
    commit(t3, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","someFutureFeature"],"writerFeatures":["someFutureFeature"]}}""",
      metaAction(xSchema)))
    val e3 = intercept[IllegalArgumentException](DeltaLog.snapshot(spark, t3))
    assert(e3.getMessage.contains("someFutureFeature"), e3.getMessage)
    // benign feature set still reads
    val t4 = freshTable()
    writeDataFile(Seq(7L).toDF("x"), t4, "part-a.snappy.parquet")
    commit(t4, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
      metaAction(xSchema), addAction("part-a.snappy.parquet")))
    assert(DeltaLog.read(spark, t4).as[Long].collect().toSeq == Seq(7L))
  }

  test("history lists every commit with its operation") {
    val t = freshTable()
    DeltaLog.write(spark, Seq((1L, "a", 0L)).toDF("id", "p", "ts"), t)
    DeltaLog.write(spark, Seq((2L, "b", 0L)).toDF("id", "p", "ts"), t, "append")
    DeltaLog.mergeUpsert(spark, t,
      Seq((1L, "a2", 1L)).toDF("id", "p", "ts"), Seq("id"), "ts")
    DeltaLog.optimize(spark, t)
    val h = DeltaLog.history(spark, t)
      .select("version", "operation").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(h.map(_._2.get) == Seq("OVERWRITE", "APPEND", "MERGE", "OPTIMIZE"), h.toString)
    // audit parameters: the MERGE commit records its keys, and a DELETE
    // records its predicate (Delta's operationParameters contract)
    val mergeParams = DeltaLog.history(spark, t)
      .where($"operation" === "MERGE")
      .select("operationParameters").as[Map[String, String]].head()
    assert(mergeParams.get("mergeKeys").contains("id"), mergeParams.toString)
    DeltaLog.deleteWhere(spark, t, $"id" === 2L)
    val delParams = DeltaLog.history(spark, t)
      .where($"operation" === "DELETE")
      .select("operationParameters").as[Map[String, String]].head()
    assert(delParams("predicate").contains("id"), delParams.toString)
  }

  test("TIMESTAMP AS OF resolves to the newest commit at or before the asked time") {
    val t = freshTable()
    writeDataFile(Seq(1L).toDF("x"), t, "part-a.snappy.parquet")
    writeDataFile(Seq(2L).toDF("x"), t, "part-b.snappy.parquet")
    // explicit commitInfo timestamps (the protocol's resolution input)
    commit(t, 0, Seq(metaAction(xSchema), addAction("part-a.snappy.parquet"),
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}"""))
    commit(t, 1, Seq(addAction("part-b.snappy.parquet"),
      """{"commitInfo":{"timestamp":2000,"operation":"WRITE"}}"""))
    assert(DeltaLog.versionAtTimestamp(spark, t, 1500L) == 0L)
    assert(DeltaLog.versionAtTimestamp(spark, t, 2000L) == 1L)
    assert(DeltaLog.readAsOfTimestamp(spark, t, 1500L)
      .as[Long].collect().toSeq == Seq(1L))
    val e = intercept[IllegalArgumentException](
      DeltaLog.versionAtTimestamp(spark, t, 999L))
    assert(e.getMessage.contains("at or before"), e.getMessage)
  }

  test("schema enforcement: append with a retyped column refuses loudly") {
    val t = freshTable()
    DeltaLog.write(spark, Seq((1L, "a")).toDF("x", "tag"), t)
    val e = intercept[IllegalArgumentException](
      DeltaLog.write(spark, Seq((2L, 7)).toDF("x", "tag"), t, "append"))
    assert(e.getMessage.contains("schema enforcement"), e.getMessage)
    // the refused append left no trace: same version, same rows
    assert(DeltaLog.snapshot(spark, t).version == 0L)
    assert(DeltaLog.read(spark, t).count() == 1)
    // widening with a NEW column still evolves
    DeltaLog.write(spark, Seq((2L, "b", 5.0)).toDF("x", "tag", "score"), t, "append")
    assert(DeltaLog.read(spark, t).schema.fieldNames.toSeq == Seq("x", "tag", "score"))
  }

  test("multi-part checkpoint WRITE round-trips through the reader after JSON vacuum") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L, 2L).toDF("x"), t, txn = Some("job" -> 3L))
    DeltaLog.write(spark, Seq(3L).toDF("x"), t, "append")
    assert(DeltaLog.checkpoint(spark, t, parts = 2) == 1L)
    val names = new File(t, "_delta_log").listFiles().map(_.getName).sorted
    assert(names.exists(_.matches("""\d{20}\.checkpoint\.0000000001\.\d{10}\.parquet""")),
      names.mkString(","))
    // replay must come from the parts alone
    new File(t, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(_.delete())
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(DeltaLog.lastTxn(spark, t, "job").contains(3L))
    // stats survive the multi-part layout too
    assert(DeltaLog.snapshot(spark, t).allFiles.where("stats IS NOT NULL").count() > 0)
  }

  test("concurrent appenders all succeed via optimistic retry") {
    // appends are conflict-free (nothing removed, nonce-unique files),
    // so a lost version race retries at the next version instead of
    // failing; overwrites/merges still surface the conflict loudly
    val t = freshTable()
    DeltaLog.write(spark, Seq(0L).toDF("x"), t) // v0
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val workers = (1 to 2).map { w =>
      Future {
        (1 to 3).foreach(i =>
          DeltaLog.write(spark, Seq(w * 100L + i).toDF("x"), t, "append"))
      }
    }
    Await.result(Future.sequence(workers), 180.seconds)
    // every append landed in its own contiguous version; no rows lost
    assert(DeltaLog.listVersions(spark, t) == (0L to 6L))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      (Seq(0L) ++ (1 to 3).flatMap(i => Seq(100L + i, 200L + i))).sorted)
  }

  test("racing merges never lose or duplicate rows (stale merges refuse, caller retries)") {
    // a MERGE computed against snapshot v commits only as v+1: if a
    // concurrent writer slipped in, the read-modify-write is stale and
    // refuses loudly (committing it would drop the concurrent change and
    // duplicate rewritten rows). The application-level retry then re-reads
    // — under any interleaving the final state is exact.
    val t = freshTable()
    DeltaLog.write(spark,
      (1L to 8L).map(i => (i, "init", 0L)).toDF("id", "payload", "ts").coalesce(2), t)
    def upsertRetry(rows: Seq[(Long, String, Long)], tries: Int = 30): Unit =
      try { DeltaLog.mergeUpsert(spark, t, rows.toDF("id", "payload", "ts"),
        Seq("id"), "ts"); () }
      catch {
        case e: Exception
            if e.getMessage != null && e.getMessage.contains("concurrent commit")
              && tries > 0 =>
          upsertRetry(rows, tries - 1)
      }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val workers = Seq(1L -> "a", 5L -> "b").map { case (id, tag) =>
      Future { (1 to 3).foreach(i => upsertRetry(Seq((id, s"$tag$i", i.toLong)))) }
    }
    Await.result(Future.sequence(workers), 300.seconds)
    val state = DeltaLog.read(spark, t)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(state.size == 8, s"rows lost or duplicated: $state")
    assert(state.find(_._1 == 1L).get == ((1L, "a3", 3L)), state.toString)
    assert(state.find(_._1 == 5L).get == ((5L, "b3", 3L)), state.toString)
    assert(state.count(_._2 == "init") == 6, state.toString)
  }

  test("empty table reads as empty frame with the declared schema") {
    val t = freshTable()
    commit(t, 0, Seq(metaAction(xSchema)))
    val df = DeltaLog.read(spark, t)
    assert(df.schema == xSchema && df.count() == 0)
  }

  test("DELETE writes deletion vectors: no rewrite, exact CDC, union, full-file removal") {
    val t = freshTable()
    // 3 files x 100 rows; x in [0,300)
    for (i <- 0 until 3)
      DeltaLog.write(spark, spark.range(i * 100L, i * 100L + 100).toDF("x").coalesce(1),
        t, if (i == 0) "overwrite" else "append")
    val v0 = DeltaLog.snapshot(spark, t)
    assert(v0.files.size == 3)

    // sparse DELETE: zone maps confine it to one file; that file is
    // RE-ADDED (same path) under a DV — no parquet rewrite
    val v1 = DeltaLog.deleteWhere(spark, t, $"x" >= 120L && $"x" < 130L)
    val s1 = DeltaLog.snapshot(spark, t)
    assert(s1.version == v1)
    assert(s1.files.toSet == v0.files.toSet, "DELETE must not rewrite data files")
    assert(s1.fileEntries.count(_.dv.isDefined) == 1)
    assert(s1.fileEntries.find(_.dv.isDefined).get.dv.get.cardinality == 10L)
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      ((0L until 120L) ++ (130L until 300L)))
    // time travel BEFORE the delete still sees every row
    assert(DeltaLog.read(spark, t, Some(v0.version)).count() == 300)
    // CDC nets the DV update to exactly the deleted rows
    val cdf = DeltaLog.changesBetween(spark, t, v0.version, v1)
      .select("_change_type", "x").as[(String, Long)].collect().toSet
    assert(cdf == (120L until 130L).map(("delete", _)).toSet, cdf.toString)
    // the upgraded protocol declares the feature (spec upgrade rule)
    assert(s1.protocolJson.get.contains("deletionVectors"), s1.protocolJson.get)

    // second DELETE on the SAME file unions into the existing DV
    val v2 = DeltaLog.deleteWhere(spark, t, $"x" === 150L)
    val s2 = DeltaLog.snapshot(spark, t)
    assert(s2.fileEntries.find(_.dv.isDefined).get.dv.get.cardinality == 11L)
    assert(DeltaLog.read(spark, t).count() == 289)
    assert(DeltaLog.changesBetween(spark, t, v1, v2)
      .select("x").as[Long].collect().toSeq == Seq(150L))

    // delete every remaining live row of that file: the file is REMOVED,
    // not re-added with a full DV
    val v3 = DeltaLog.deleteWhere(spark, t, $"x" >= 100L && $"x" < 200L)
    val s3 = DeltaLog.snapshot(spark, t)
    assert(s3.files.size == 2 && s3.fileEntries.forall(_.dv.isEmpty), s3.files.toString)
    assert(DeltaLog.read(spark, t).count() == 200)
    assert(DeltaLog.changesBetween(spark, t, v2, v3).count() == 89)

    // no-match DELETE is a no-op: no empty commit
    assert(DeltaLog.deleteWhere(spark, t, $"x" === 999L) == v3)
    assert(DeltaLog.listVersions(spark, t).max == v3)

    // OPTIMIZE purges DVs; vacuum then reclaims the dead sidecars too
    DeltaLog.optimize(spark, t)
    assert(DeltaLog.snapshot(spark, t).fileEntries.forall(_.dv.isEmpty))
    assert(DeltaLog.read(spark, t).count() == 200)
    val reclaimed = DeltaLog.vacuum(spark, t, keepVersions = 1, retainMillis = 0L)
    val sidecars = new File(t).listFiles()
      .filter(_.getName.startsWith("deletion_vector_"))
    assert(sidecars.isEmpty, s"dead sidecars survived vacuum: ${sidecars.mkString(",")}")
    assert(reclaimed >= 3, s"reclaimed=$reclaimed") // 3 data files + sidecars
    assert(DeltaLog.read(spark, t).count() == 200)
  }

  test("UPDATE is copy-on-write: untouched files live, CDF update pairs, DV purge") {
    val t = freshTable()
    for (i <- 0 until 3)
      DeltaLog.write(spark, spark.range(i * 100L, i * 100L + 100)
        .selectExpr("id AS x", "CAST(id AS STRING) AS s").coalesce(1),
        t, if (i == 0) "overwrite" else "append")
    val v0 = DeltaLog.snapshot(spark, t)
    assert(v0.files.size == 3)

    // zone maps confine the UPDATE to one file; only it is rewritten
    val v1 = DeltaLog.updateWhere(spark, t,
      $"x" >= 120L && $"x" < 125L, Map("s" -> lit("hit")))
    val s1 = DeltaLog.snapshot(spark, t)
    assert(s1.version == v1)
    assert((v0.files.toSet -- s1.files.toSet).size == 1,
      "UPDATE must rewrite exactly the touched file")
    assert(v0.files.toSet.intersect(s1.files.toSet).size == 2, "untouched files stay live")
    assert(DeltaLog.read(spark, t).where($"s" === "hit")
      .select("x").as[Long].collect().sorted.toSeq == (120L until 125L))
    assert(DeltaLog.read(spark, t).count() == 300)
    // non-matching neighbor rows carried unchanged
    assert(DeltaLog.read(spark, t).where($"x" === 150L)
      .select("s").as[String].head() == "150")
    // CDF resolves the rewrite into exact update pre/post pairs
    val cdf = DeltaLog.changesWithUpdates(spark, t, v0.version, v1, Seq("x"))
      .select("_change_type", "x", "s").as[(String, Long, String)].collect().toSet
    assert(cdf == (120L until 125L).flatMap(x => Seq(
      ("update_preimage", x, x.toString), ("update_postimage", x, "hit"))).toSet, cdf.toString)

    // UPDATE over a DV'd file: only live rows carried, DV purged, and the
    // change feed over BOTH commits stays exact (remove carries the DV)
    val v2 = DeltaLog.deleteWhere(spark, t, $"x" === 110L)
    val v3 = DeltaLog.updateWhere(spark, t,
      $"x" === 111L, Map("s" -> lit("upd")))
    val s3 = DeltaLog.snapshot(spark, t)
    assert(s3.fileEntries.forall(_.dv.isEmpty), "rewrite must purge the DV")
    assert(DeltaLog.read(spark, t).count() == 299)
    val cdf2 = DeltaLog.changesWithUpdates(spark, t, v2, v3, Seq("x"))
      .select("_change_type", "x").as[(String, Long)].collect().toSet
    assert(cdf2 == Set(("update_preimage", 111L), ("update_postimage", 111L)), cdf2.toString)

    // no-match UPDATE: no commit; unknown SET column refuses
    assert(DeltaLog.updateWhere(spark, t, $"x" === -1L, Map("s" -> lit("z"))) == v3)
    intercept[IllegalArgumentException] {
      DeltaLog.updateWhere(spark, t, $"x" === 1L, Map("nope" -> lit(1)))
    }
  }

  test("changesWithUpdates refuses a duplicate-key window, naming the keys") {
    val t = freshTable()
    DeltaLog.write(spark, Seq((1L, "a")).toDF("id", "tag"), t)          // v0
    // a non-MERGE commit violating the per-side key-uniqueness invariant
    DeltaLog.write(spark,
      Seq((2L, "x"), (2L, "y")).toDF("id", "tag"), t, "append")         // v1
    val e = intercept[IllegalArgumentException](
      DeltaLog.changesWithUpdates(spark, t, 0L, 1L, Seq("id")).collect())
    assert(e.getMessage.contains("unique per") && e.getMessage.contains("2"),
      e.getMessage)
    // the raw file-level feed still works on the same window
    assert(DeltaLog.changesBetween(spark, t, 0L, 1L).count() == 2)
  }

  test("NOT NULL column invariants refuse a null write whole") {
    val t = freshTable()
    graft.sources.GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (k BIGINT NOT NULL, v STRING)")
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, "append")
    val tree = dataTree(t)
    // a null in the declared-non-nullable column refuses inside the
    // staging write
    val e = intercept[IllegalArgumentException](DeltaLog.write(spark,
      Seq((java.lang.Long.valueOf(3L), "c"), (null.asInstanceOf[java.lang.Long], "d"))
        .toDF("k", "v"), t, "append"))
    assert(e.getMessage.contains("NOT NULL") && e.getMessage.contains("k"),
      e.getMessage)
    // nothing landed — no commit, no scratch dir, no data file; the
    // nullable column still takes nulls fine
    assert(DeltaLog.read(spark, t).count() == 2)
    assert(dataTree(t) == tree, (dataTree(t) -- tree).toString)
    DeltaLog.write(spark,
      Seq((java.lang.Long.valueOf(4L), null.asInstanceOf[String])).toDF("k", "v"),
      t, "append")
    // an UPDATE rewriting k to null refuses too (same commit gate)
    intercept[IllegalArgumentException](
      DeltaLog.updateWhere(spark, t, $"k" === 1L,
        Map("k" -> lit(null).cast("bigint"))))
    assert(DeltaLog.read(spark, t).count() == 3)

    // the guard judges only the rows a MERGE writes: a source null that
    // would sit in a target row a MatchedDelete removes never lands, so
    // the MERGE commits; the same null through an update refuses
    val m = freshTable()
    graft.sources.GraftSql.exec(spark,
      s"CREATE TABLE delta.`$m` (k BIGINT NOT NULL, v STRING NOT NULL)")
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), m, "append")
    DeltaLog.merge(spark, m, Seq((1L, null: String), (3L, "c")).toDF("k", "v"),
      Seq("k"), Seq(MatchedDelete(None), NotMatchedInsert(None, Map.empty)))
    assert(DeltaLog.read(spark, m).as[(Long, String)].collect().sorted.toSeq ==
      Seq((2L, "b"), (3L, "c")))
    val mTree = dataTree(m)
    val em = intercept[IllegalArgumentException](DeltaLog.merge(spark, m,
      Seq((2L, null: String)).toDF("k", "v"), Seq("k"),
      Seq(MatchedUpdate(None, Map.empty))))
    assert(em.getMessage.contains("NOT NULL"), em.getMessage)
    assert(dataTree(m) == mTree, (dataTree(m) -- mTree).toString)
  }

  test("table properties: configuration survives evolution; appendOnly + CHECK enforced") {
    val t = freshTable()
    DeltaLog.write(spark, Seq((1L, 5L)).toDF("x", "v"), t,
      properties = Map("delta.constraints.vpos" -> "v > 0"))
    // CHECK violation refuses loudly, naming the constraint, and leaves
    // no scratch dir or data file behind
    val tree = dataTree(t)
    val e = intercept[IllegalArgumentException](
      DeltaLog.write(spark, Seq((2L, -1L)).toDF("x", "v"), t, "append"))
    assert(e.getMessage.contains("vpos"), e.getMessage)
    assert(dataTree(t) == tree, (dataTree(t) -- tree).toString)
    DeltaLog.write(spark, Seq((2L, 7L)).toDF("x", "v"), t, "append")
    // schema-widening append must NOT wipe the table's configuration
    DeltaLog.write(spark, Seq((3L, 8L, "z")).toDF("x", "v", "tag"), t, "append")
    val cfg = DeltaLog.snapshot(spark, t).configuration
    assert(cfg.get("delta.constraints.vpos").contains("v > 0"), cfg.toString)
    intercept[IllegalArgumentException](
      DeltaLog.write(spark, Seq((9L, -2L, "w")).toDF("x", "v", "tag"), t, "append"))
    // an UPDATE whose rewritten frame violates the constraint refuses too
    intercept[IllegalArgumentException](
      DeltaLog.updateWhere(spark, t, $"x" === 1L, Map("v" -> lit(-5L))))
    assert(DeltaLog.read(spark, t).count() == 3)

    // append-only table: appends fine; every remove-bearing verb refuses;
    // OPTIMIZE (dataChange=false, pure rewrite) stays allowed
    val t2 = freshTable()
    DeltaLog.write(spark, Seq(1L, 2L).toDF("x").coalesce(1), t2,
      properties = Map("delta.appendOnly" -> "true"))
    DeltaLog.write(spark, Seq(3L).toDF("x"), t2, "append")
    assert(intercept[IllegalArgumentException](
      DeltaLog.write(spark, Seq(9L).toDF("x"), t2))
      .getMessage.contains("append-only"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.deleteWhere(spark, t2, $"x" === 1L))
      .getMessage.contains("append-only"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.updateWhere(spark, t2, $"x" === 1L, Map("x" -> lit(9L))))
      .getMessage.contains("append-only"))
    DeltaLog.optimize(spark, t2)
    assert(DeltaLog.read(spark, t2).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(DeltaLog.snapshot(spark, t2).configuration
      .get("delta.appendOnly").contains("true"))
  }

  test("RESTORE rolls the state back as one commit; history preserved; vacuum refuses") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L, 2L).toDF("x").coalesce(1), t)            // v0
    DeltaLog.write(spark, Seq(3L).toDF("x").coalesce(1), t, "append")      // v1
    DeltaLog.deleteWhere(spark, t, $"x" === 2L)                            // v2 (DV)
    DeltaLog.write(spark, Seq(9L).toDF("x").coalesce(1), t)                // v3 overwrite
    assert(DeltaLog.read(spark, t).as[Long].collect().toSeq == Seq(9L))

    // restore to v1: pre-delete, pre-overwrite
    val rv = DeltaLog.restore(spark, t, 1L)
    assert(rv == 4L)
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // history preserved: every intermediate version still travels
    assert(DeltaLog.read(spark, t, Some(2)).as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    assert(DeltaLog.read(spark, t, Some(3)).as[Long].collect().toSeq == Seq(9L))
    assert(DeltaLog.history(spark, t).where($"operation" === "RESTORE").count() == 1)
    // restoring the DV'd version re-adds the file UNDER its descriptor
    val rv2 = DeltaLog.restore(spark, t, 2L)
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(DeltaLog.snapshot(spark, t).fileEntries.exists(_.dv.isDefined))
    // change-feed fold across the restore lands on the restored state
    val feed = DeltaLog.changesBetween(spark, t, 4L, rv2)
    val folded = graft.maintenance.IncrementalAgg.applyDelta(
      graft.maintenance.IncrementalAgg.materialize(
        DeltaLog.read(spark, t, Some(4L)), Seq("x"), Nil),
      feed, Seq("x"), Nil)
    val want = graft.maintenance.IncrementalAgg.materialize(
      DeltaLog.read(spark, t), Seq("x"), Nil)
    assert(folded.exceptAll(want).isEmpty && want.exceptAll(folded).isEmpty)
    // restore to the current version: no-op, no commit
    assert(DeltaLog.restore(spark, t, rv2) == rv2)
    assert(DeltaLog.listVersions(spark, t).max == rv2)
    // vacuum away v3's file, then a restore needing it refuses loudly
    DeltaLog.vacuum(spark, t, keepVersions = 1, retainMillis = 0L)
    val e = intercept[IllegalArgumentException](DeltaLog.restore(spark, t, 3L))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("snapshot refuses a log-cleaned prefix instead of replaying a partial state") {
    // a foreign table whose old commits were metadata-cleaned: versions
    // 2..3 survive, 0..1 gone, NO checkpoint covering the prefix. The
    // version-membership check alone would replay only the suffix and
    // silently return a partial file set — must refuse like Delta does.
    val t = freshTable()
    writeDataFile(Seq(1L).toDF("x"), t, "part-0002-a.snappy.parquet")
    commit(t, 2, Seq(metaAction(xSchema), addAction("part-0002-a.snappy.parquet")))
    commit(t, 3, Seq(addAction("part-0002-a.snappy.parquet")))
    val e = intercept[IllegalArgumentException](DeltaLog.snapshot(spark, t))
    assert(e.getMessage.contains("non-contiguous"), e.getMessage)
  }

  test("time travel below the checkpoint refuses when the JSON prefix is gone") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L).toDF("x").coalesce(1), t)            // v0
    DeltaLog.write(spark, Seq(2L).toDF("x").coalesce(1), t, "append")  // v1
    DeltaLog.write(spark, Seq(3L).toDF("x").coalesce(1), t, "append")  // v2
    DeltaLog.checkpoint(spark, t)
    // metadata-clean ONLY v0 (delta.logRetentionDuration): v1's own JSON
    // survives, so the version-membership check PASSES for v1 — the
    // dangerous case, where replay would silently use just the suffix
    new File(t, "_delta_log/" + f"${0L}%020d.json").delete()
    // latest still reads (checkpoint covers the prefix)
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // v1 is below the checkpoint: no checkpoint covers ≤1, and the tail
    // 0..1 has a hole at 0 — partial replay must refuse, not misread
    val e = intercept[IllegalArgumentException](DeltaLog.snapshot(spark, t, Some(1L)))
    assert(e.getMessage.contains("non-contiguous"), e.getMessage)
  }

  test("cleanupLog expires only the aged contiguous prefix behind the checkpoint") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L).toDF("x").coalesce(1), t)            // v0
    DeltaLog.write(spark, Seq(2L).toDF("x").coalesce(1), t, "append")  // v1
    DeltaLog.write(spark, Seq(3L).toDF("x").coalesce(1), t, "append")  // v2
    DeltaLog.checkpoint(spark, t)
    DeltaLog.write(spark, Seq(4L).toDF("x").coalesce(1), t, "append")  // v3
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def jsonPath(v: Long) =
      new org.apache.hadoop.fs.Path(t, f"_delta_log/$v%020d.json")
    // age v0 and v1 past the window; v2 stays young → only v0+v1 expire
    // (and v3, above the checkpoint, must NEVER be touched)
    val old = System.currentTimeMillis() - 90L * 24 * 3600 * 1000
    fsys.setTimes(jsonPath(0L), old, -1)
    fsys.setTimes(jsonPath(1L), old, -1)
    assert(DeltaLog.cleanupLog(spark, t, dryRun = true) == 2)
    assert(DeltaLog.cleanupLog(spark, t) == 2)
    assert(!fsys.exists(jsonPath(0L)) && !fsys.exists(jsonPath(1L)))
    assert(fsys.exists(jsonPath(2L)) && fsys.exists(jsonPath(3L)))
    // the table reads fine (checkpoint covers the cleaned prefix) and
    // time travel to the expired versions refuses per the reader guard
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException](DeltaLog.snapshot(spark, t, Some(1L)))
    // a young gap stops the sweep: age v2 but keep a fresh mtime "hole"
    // impossible here — instead verify prefix-only: re-run is a no-op
    assert(DeltaLog.cleanupLog(spark, t) == 0)
    // checkpoint-time auto-cleanup honors the opt-out
    DeltaLog.write(spark, Seq(5L).toDF("x").coalesce(1), t, "append",
      properties = Map("delta.enableExpiredLogCleanup" -> "false"))
    fsys.setTimes(jsonPath(2L), old, -1)
    DeltaLog.checkpoint(spark, t)
    assert(fsys.exists(jsonPath(2L)),
      "enableExpiredLogCleanup=false must suppress checkpoint-time cleanup")
  }

  test("addedSince refuses a log-cleaned commit inside the window") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L).toDF("x").coalesce(1), t)            // v0
    for (i <- 2 to 4)
      DeltaLog.write(spark, Seq(i.toLong).toDF("x").coalesce(1), t, "append")
    new File(t, "_delta_log/" + f"${2L}%020d.json").delete()           // clean v2
    val e = intercept[RuntimeException](DeltaLog.addedSince(spark, t, 0L, 3L))
    assert(e.getMessage.contains("log truncated"), e.getMessage)
  }

  test("RESTORE refuses when a re-added file's DV sidecar was vacuumed") {
    val t = freshTable()
    DeltaLog.write(spark, (1L to 10L).toDF("x").coalesce(1), t)        // v0
    DeltaLog.deleteWhere(spark, t, $"x" === 2L)                        // v1: u-type DV
    DeltaLog.write(spark, Seq(99L).toDF("x").coalesce(1), t)           // v2 overwrite
    // simulate vacuum reclaiming the dead sidecar
    val bins = new File(t).listFiles()
      .filter(_.getName.startsWith("deletion_vector_"))
    assert(bins.nonEmpty, "expected an on-disk DV sidecar")
    bins.foreach(_.delete())
    val e = intercept[IllegalArgumentException](DeltaLog.restore(spark, t, 1L))
    assert(e.getMessage.contains("deletion-vector"), e.getMessage)
  }

  test("wide DELETE: 200k rows over 120 files, bitmaps stay on executors") {
    // the GDPR-purge shape: a sparse predicate touching EVERY file. The
    // per-file bitmaps (~3 KB roaring each, ~400 KB total here; GBs at
    // 100 TB) must be written from the executors — the driver collects
    // only (path, offset, size, cardinality) descriptors, so no task
    // ships bitmap bytes back as its result.
    val t = freshTable()
    DeltaLog.write(spark,
      spark.range(600000L).select($"id".as("x")).repartition(120), t)
    assert(DeltaLog.snapshot(spark, t).files.size == 120)

    val resultSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          resultSizes.synchronized { resultSizes += e.taskMetrics.resultSize }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      DeltaLog.deleteWhere(spark, t, $"x" % 3 === 0)
      Thread.sleep(3000) // let the listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)

    // correctness of the wide delete
    assert(DeltaLog.read(spark, t).count() == 400000L)
    assert(DeltaLog.read(spark, t).where($"x" % 3 === 0).count() == 0L)
    val snap = DeltaLog.snapshot(spark, t)
    val dvd = snap.fileEntries.filter(_.dv.isDefined)
    assert(dvd.size == 120)
    assert(dvd.map(_.dv.get.cardinality).sum == 200000L)
    // one sidecar per WRITING TASK PARTITION, not per file — and far
    // fewer than the 120 files
    val sidecars = new File(t).listFiles()
      .filter(_.getName.startsWith("deletion_vector_"))
    assert(sidecars.nonEmpty && sidecars.length <= 8, s"${sidecars.length} sidecars")
    // instrumentation: no task returned bitmap-sized results to the
    // driver. Driver-funneled bitmaps would be ~50 KB per task here
    // (15 files x ~3.3 KB); descriptors + task overhead stay far below.
    val maxResult = resultSizes.synchronized(resultSizes.max)
    assert(maxResult < 20 * 1024,
      s"a task shipped $maxResult bytes to the driver — bitmaps must stay executor-side")
  }

  test("DELETE on a partitioned table prunes by partition value and stays exact") {
    val t = freshTable()
    DeltaLog.write(spark,
      Seq((1L, "en"), (2L, "en"), (3L, "fr"), (4L, "de")).toDF("x", "lang")
        .coalesce(1), // one file per partition value
      t, partitionBy = Seq("lang"))
    val v = DeltaLog.deleteWhere(spark, t, $"lang" === "en" && $"x" === 1L)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.version == v)
    // only the en partition's file carries a DV
    val dvd = snap.fileEntries.filter(_.dv.isDefined)
    assert(dvd.size == 1 && dvd.head.path.contains("lang=en"), dvd.toString)
    assert(DeltaLog.read(spark, t).select("x").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L))
    // partition values survive the re-add: partition pruning still works
    assert(DeltaLog.read(spark, t).where($"lang" === "en")
      .select("x").as[Long].collect().toSeq == Seq(2L))
  }

  test("shallow clone: zero-copy fork — reads equal, DML independent, vacuum safe") {
    val base = Files.createTempDirectory("graft-clone-").toString
    val src = s"$base/src"
    val tgt = s"$base/tgt"
    // partitioned source with a deletion vector: clone must carry
    // partition values, stats, and the DV (as an absolute reference)
    DeltaLog.write(spark,
      (0L until 20L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("x", "g")
        .coalesce(1), src, partitionBy = Seq("g"))
    DeltaLog.deleteWhere(spark, src, $"x" === 4L)
    val srcRows = DeltaLog.read(spark, src).as[(Long, String)].collect().sorted.toSeq

    DeltaLog.cloneShallow(spark, src, tgt)
    assert(DeltaLog.read(spark, tgt).as[(Long, String)].collect().sorted.toSeq
      == srcRows, "clone must read exactly the source's rows")
    // no data bytes copied: the clone dir holds only the log
    val dataFiles = new File(tgt).listFiles().filterNot(_.getName == "_delta_log")
    assert(dataFiles.isEmpty, dataFiles.mkString(","))

    // DML on the clone: append + DV delete; the source never changes
    DeltaLog.write(spark, Seq((100L, "a")).toDF("x", "g"), tgt,
      mode = "append", partitionBy = Seq("g"))
    DeltaLog.deleteWhere(spark, tgt, $"x" === 6L)
    assert(DeltaLog.read(spark, tgt).where($"x" === 100L).count() == 1L)
    assert(DeltaLog.read(spark, tgt).where($"x" === 6L).count() == 0L)
    assert(DeltaLog.read(spark, src).as[(Long, String)].collect().sorted.toSeq
      == srcRows, "source must be untouched by clone DML")

    // zone-map pruning on the clone still has the carried stats to use
    val pruned = DeltaLog.readPruned(spark, tgt, $"x" === 100L)
    assert(pruned.count() == 1L)

    // VACUUM on the clone deletes nothing of the source's
    DeltaLog.vacuum(spark, tgt, retainMillis = 0L)
    assert(DeltaLog.read(spark, src).as[(Long, String)].collect().sorted.toSeq
      == srcRows, "vacuuming the clone must never touch source files")
    assert(DeltaLog.read(spark, tgt).where($"x" === 100L).count() == 1L)

    // time-traveled clone: version 0 of the source (pre-DELETE)
    val tgt0 = s"$base/tgt0"
    DeltaLog.cloneShallow(spark, src, tgt0, versionAsOf = Some(0L))
    assert(DeltaLog.read(spark, tgt0).count() == 20L)
  }

  test("OPTIMIZE bin-packing: large clean files stay live; DV'd files always purge") {
    val t = freshTable()
    // one big file, three small ones
    DeltaLog.write(spark, (0L until 5000L).toDF("x").coalesce(1), t)
    (0 until 3).foreach(i => DeltaLog.write(spark,
      Seq(10000L + i).toDF("x").coalesce(1), t, mode = "append"))
    val before = DeltaLog.snapshot(spark, t)
    assert(before.files.size == 4)
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigSize = before.files.map(p =>
      fsys.getFileStatus(new org.apache.hadoop.fs.Path(t, p)).getLen).max

    // threshold below the big file: only the three smalls compact
    DeltaLog.optimize(spark, t, minFileSize = bigSize)
    val after = DeltaLog.snapshot(spark, t)
    assert(after.files.size == 2, after.files.toString)
    assert(before.files.toSet.intersect(after.files.toSet).size == 1,
      "the large file must survive untouched")
    assert(DeltaLog.read(spark, t).count() == 5003L)

    // nothing small left: OPTIMIZE is a no-op, not an empty commit
    val v = DeltaLog.optimize(spark, t, minFileSize = 1024L)
    assert(v == after.version, "no-op OPTIMIZE must not commit")

    // a DV'd file is always a candidate (compaction doubles as purge),
    // even when it is larger than the threshold
    DeltaLog.deleteWhere(spark, t, $"x" === 7L)
    assert(DeltaLog.snapshot(spark, t).fileEntries.exists(_.dv.isDefined))
    DeltaLog.optimize(spark, t, minFileSize = 1L)
    assert(DeltaLog.snapshot(spark, t).fileEntries.forall(_.dv.isEmpty))
    assert(DeltaLog.read(spark, t).count() == 5002L)
  }

  test("racing row-level DML lands both writers via built-in operation retry") {
    // UPDATE and DELETE on disjoint slices fired concurrently: whoever
    // loses the version race recomputes from the fresh snapshot and
    // retries INSIDE the engine — no caller-side loop needed
    val t = freshTable()
    DeltaLog.write(spark,
      (0L until 100L).map(i => (i, 0)).toDF("k", "v").repartition(4), t)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val update = Future {
      DeltaLog.updateWhere(spark, t, $"k" < 50L, Map("v" -> lit(1)))
    }
    val delete = Future {
      DeltaLog.deleteWhere(spark, t, $"k" >= 90L)
    }
    Await.result(Future.sequence(Seq(update, delete)), 180.seconds)
    val got = DeltaLog.read(spark, t).as[(Long, Int)].collect().toMap
    assert(got.size == 90, s"deleted slice must be gone: ${got.size}")
    assert((0L until 50L).forall(got(_) == 1), "updated slice must carry v=1")
    assert((50L until 90L).forall(got(_) == 0), "middle slice untouched")
  }

  test("replaceWhere: selective overwrite rewrites only candidate files") {
    val t = freshTable()
    // two files with disjoint key ranges so pruning can skip one
    DeltaLog.write(spark, (0L until 10L).map(i => (i, (i * 10).toInt)).toDF("k", "v")
      .coalesce(1), t)
    DeltaLog.write(spark, (100L until 110L).map(i => (i, (i * 10).toInt)).toDF("k", "v")
      .coalesce(1), t, mode = "append")
    val before = DeltaLog.snapshot(spark, t).files.toSet

    // replace the k<10 slice with fresh rows; the 100s file must survive
    val v = DeltaLog.replaceWhere(spark, t,
      Seq((5L, -1), (6L, -2)).toDF("k", "v"), $"k" < 10L)
    val after = DeltaLog.snapshot(spark, t)
    assert(after.version == v)
    assert(before.intersect(after.files.toSet).size == 1,
      "the non-matching file must stay live untouched")
    assert(DeltaLog.read(spark, t).orderBy("k").as[(Long, Int)].collect().toSeq ==
      Seq(5L -> -1, 6L -> -2) ++ (100L until 110L).map(i => i -> i.toInt * 10))

    // new data violating the predicate refuses
    intercept[IllegalArgumentException] {
      DeltaLog.replaceWhere(spark, t, Seq((500L, 0)).toDF("k", "v"), $"k" < 10L)
    }
    // SQL verb + table_changes over the replace commit
    graft.sources.GraftSql.exec(spark,
      s"INSERT INTO delta.`$t` REPLACE WHERE k < 10 SELECT 7L AS k, -7 AS v")
    assert(DeltaLog.read(spark, t).where($"k" < 10).as[(Long, Int)]
      .collect().toSeq == Seq(7L -> -7))
    val changes = graft.sources.GraftSql.exec(spark,
      s"SELECT _change_type, count(*) AS n FROM TABLE_CHANGES(delta.`$t`, ${v + 1}, ${v + 1}) GROUP BY 1")
      .as[(String, Long)].collect().toMap
    assert(changes == Map("delete" -> 2L, "insert" -> 1L), changes.toString)
  }

  test("countRows: stats answer without a scan; stats-less foreign logs fall back") {
    // our own writer always records numRecords: metadata path
    val t = freshTable()
    DeltaLog.write(spark, (0L until 100L).toDF("x").repartition(3), t)
    DeltaLog.deleteWhere(spark, t, $"x" % 10 === 0L)
    assert(DeltaLog.countRows(spark, t) == 90L)
    assert(DeltaLog.countRows(spark, t, versionAsOf = Some(0L)) == 100L)

    // a hand-built foreign log WITHOUT stats must fall back to a scan
    val t2 = freshTable()
    writeDataFile(Seq(1L, 2L, 3L).toDF("x"), t2, "part-a.snappy.parquet")
    commit(t2, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(xSchema),
      addAction("part-a.snappy.parquet")))
    assert(DeltaLog.countRows(spark, t2) == 3L)
  }

  test("clone of a clone: absolute references carry through unchanged") {
    val base = Files.createTempDirectory("graft-clone2-").toString
    val src = s"$base/src"
    DeltaLog.write(spark, (0L until 10L).toDF("x"), src)
    DeltaLog.cloneShallow(spark, src, s"$base/c1")
    DeltaLog.write(spark, Seq(100L).toDF("x"), s"$base/c1", mode = "append")
    DeltaLog.cloneShallow(spark, s"$base/c1", s"$base/c2")
    assert(DeltaLog.read(spark, s"$base/c2").as[Long].collect().sorted.toSeq ==
      (0L until 10L) :+ 100L)
    // the second clone holds no data files either
    assert(new File(s"$base/c2").listFiles()
      .filterNot(_.getName == "_delta_log").isEmpty)
  }

  test("COPY INTO ingests each landed file exactly once, across reruns") {
    val base = Files.createTempDirectory("graft-copyinto-").toString
    val landing = s"$base/landing"
    val t = s"$base/t"
    def land(name: String, xs: Seq[Long]): Unit = {
      val tmp = Files.createTempDirectory("graft-land-").toString
      xs.toDF("x").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new File(landing).mkdirs()
      Files.move(part.toPath, new File(landing, name).toPath)
    }
    land("a.parquet", Seq(1L, 2L))
    land("b.parquet", Seq(3L))

    val (v1, n1) = DeltaLog.copyInto(spark, t, landing)
    assert(n1 == 2 && v1 == 0L)
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    // rerun with nothing new: no commit, nothing ingested
    val (v2, n2) = DeltaLog.copyInto(spark, t, landing)
    assert(n2 == 0 && v2 == v1)
    assert(DeltaLog.read(spark, t).count() == 3L)

    // a new file lands: only IT is ingested
    land("c.parquet", Seq(9L))
    val (v3, n3) = DeltaLog.copyInto(spark, t, landing)
    assert(n3 == 1 && v3 == v1 + 1)
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 9L))

    // the per-file state survives a checkpoint + JSON vacuum
    DeltaLog.checkpoint(spark, t)
    val (_, n4) = DeltaLog.copyInto(spark, t, landing)
    assert(n4 == 0)

    // SQL verb, with a pattern that excludes everything
    val r = graft.sources.GraftSql.exec(spark,
      s"COPY INTO delta.`$t` FROM '$landing' FILEFORMAT = PARQUET PATTERN = '*.json'")
      .head()
    assert(r.getLong(1) == 0L)
  }

  test("a bad _last_checkpoint hint never fails a read or the next commit") {
    // the checkpoint is found from the listing; the hint is only a hint
    val hints = Seq(
      "zero-byte" -> "",
      "truncated" -> """{"version":1""",
      "no version" -> """{"size":3}""",
      "absent checkpoint" -> """{"version":1,"size":3}""")
    val failures = hints.flatMap { case (name, hint) =>
      val t = freshTable()
      DeltaLog.write(spark, Seq(1L).toDF("x"), t)
      DeltaLog.write(spark, Seq(2L).toDF("x"), t, "append")
      DeltaLog.write(spark, Seq(3L).toDF("x"), t, "append")
      DeltaLog.checkpoint(spark, t)
      DeltaLog.write(spark, Seq(4L).toDF("x"), t, "append")
      Files.write(new File(t, "_delta_log/_last_checkpoint").toPath, hint.getBytes("UTF-8"))
      DeltaLog.invalidateSnapshotCache()
      scala.util.Try {
        assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
          Seq(1L, 2L, 3L, 4L))
        assert(DeltaLog.latestVersion(spark, t).contains(3L))
        assert(DeltaLog.write(spark, Seq(5L).toDF("x"), t, "append") == 4L)
        assert(DeltaLog.read(spark, t).count() == 5L)
      }.failed.toOption.map(e => s"$name hint: $e")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a multi-part checkpoint missing a part is ignored, not read") {
    val t = freshTable()
    DeltaLog.write(spark, Seq(1L, 2L).toDF("x").coalesce(1), t)
    DeltaLog.write(spark, Seq(3L).toDF("x"), t, "append")
    assert(DeltaLog.checkpoint(spark, t) == 1L)
    DeltaLog.write(spark, Seq(4L).toDF("x"), t, "append")
    DeltaLog.write(spark, Seq(5L).toDF("x"), t, "append")
    assert(DeltaLog.checkpoint(spark, t, parts = 2) == 3L)
    val part2 = new File(t, f"_delta_log/${3L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    assert(part2.delete(), s"no second part: ${new File(t, "_delta_log").list().toSeq}")
    DeltaLog.invalidateSnapshotCache()
    // the older classic checkpoint plus the JSON commits after it
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
    assert(DeltaLog.read(spark, t, Some(3L)).count() == 5L)
    assert(DeltaLog.latestVersion(spark, t).contains(3L))
    assert(DeltaLog.write(spark, Seq(6L).toDF("x"), t, "append") == 4L)
    // and with no older checkpoint left, the JSON replay from version 0
    new File(t, f"_delta_log/${1L}%020d.checkpoint.parquet").delete()
    DeltaLog.invalidateSnapshotCache()
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("one listing of _delta_log per snapshot and per commit attempt") {
    import org.apache.spark.sql.functions.col
    CommitProbeFileSystem.during(spark) {
      val t = freshTable()
      def rows(xs: (Long, String, Long)*) = xs.toDF("id", "v", "ts").coalesce(1)
      DeltaLog.write(spark, rows((1L, "a", 1L), (2L, "b", 1L)), t)
      def listings(op: => Any): Long = {
        val before = CommitProbeFileSystem.deltaLogListings.get
        op
        CommitProbeFileSystem.deltaLogListings.get - before
      }
      val counts = Seq(
        "append" -> listings(DeltaLog.write(spark, rows((3L, "c", 1L)), t, "append")),
        "MERGE" -> listings(DeltaLog.mergeUpsert(spark, t,
          rows((1L, "m", 2L), (4L, "n", 2L)), Seq("id"), "ts")),
        "clause MERGE" -> listings(DeltaLog.merge(spark, t,
          rows((1L, "k", 3L), (5L, "o", 3L)), Seq("id"),
          Seq(MatchedUpdate(None, Map.empty), NotMatchedInsert(None, Map.empty)))),
        "deleteWhere" -> listings(DeltaLog.deleteWhere(spark, t, col("id") === 2L)),
        "OPTIMIZE" -> listings(DeltaLog.optimize(spark, t)),
        "checkpoint" -> listings(DeltaLog.checkpoint(spark, t)),
        "cold snapshot" -> {
          DeltaLog.invalidateSnapshotCache()
          listings(DeltaLog.snapshot(spark, t))
        })
      // one listing resolves a snapshot; a commit reuses its snapshot's
      // and lists once more per attempt (the checkpoint's second is its
      // expired-log cleanup)
      val budget = Map("cold snapshot" -> 1L).withDefaultValue(2L)
      val before = "append 3, MERGE 5, clause MERGE 5, deleteWhere 2, " +
        "OPTIMIZE 4, checkpoint 3, cold snapshot 1"
      val over = counts.filter { case (op, n) => n > budget(op) }
      assert(over.isEmpty, s"listings of _delta_log over budget: $over " +
        s"(all: $counts; before the one log segment: $before)")
    }
  }
}
