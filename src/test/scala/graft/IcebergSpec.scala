package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.IcebergTable
import org.apache.spark.sql.functions._

/** Iceberg interop ([[graft.sources.IcebergTable]]): v1 append
  * round-trip, snapshot time travel, metadata-only counts, reader
  * guards (delete manifests refuse), and version-hint-less discovery. */
class IcebergSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft-iceberg-").toString + "/t"

  test("append round-trip: two snapshots, time travel, metadata count") {
    val t = fresh()
    val a = spark.range(0, 100)
      .select(col("id").as("k"), (col("id") % 3).cast("int").as("v"),
        concat(lit("row-"), col("id")).as("s"))
    val s1 = IcebergTable.writeAppend(spark, a, t)
    assert(IcebergTable.isIcebergTable(spark, t))
    assert(IcebergTable.read(spark, t).count() == 100L)
    val b = spark.range(100, 150)
      .select(col("id").as("k"), (col("id") % 3).cast("int").as("v"),
        concat(lit("row-"), col("id")).as("s"))
    val s2 = IcebergTable.writeAppend(spark, b, t)
    assert(s2 != s1)
    // current = both appends; the first snapshot still readable
    assert(IcebergTable.read(spark, t).count() == 150L)
    assert(IcebergTable.read(spark, t, snapshotId = Some(s1)).count() == 100L)
    assert(IcebergTable.countRows(spark, t) == 150L)
    // values survive exactly
    val back = IcebergTable.read(spark, t)
      .agg(sum("k"), countDistinct("s")).as[(Long, Long)].head()
    assert(back == ((149L * 150 / 2), 150L), back)
    // schema mismatch refuses
    intercept[IllegalArgumentException] {
      IcebergTable.writeAppend(spark, Seq(1).toDF("other"), t)
    }
  }

  test("append of another session's frame stages INT64 timestamps") {
    // the micros setting must land on the frame's own session — the one
    // its parquet writer reads — not on the session the caller passes
    val t = fresh()
    val other = spark.newSession()
    val a = other.range(0, 10).select(col("id").as("k"),
      timestamp_seconds(col("id") * 86400L).as("ts"))
    IcebergTable.writeAppend(spark, a, t)
    assert(IcebergTable.read(spark, t).count() == 10L)
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(t, "data").listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), conf))
      val ts = try {
        val schema = rd.getFooter.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex("ts")).asPrimitiveType.getPrimitiveTypeName
      } finally rd.close()
      assert(ts == org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
        s"${f.getName} staged ts as $ts")
    }
  }

  test("relative table path: append, delete and read resolve the table once") {
    // a relative location must not be recorded relative and then
    // prefixed with the table a second time on read
    val rel = s"target/graft-iceberg-rel-${java.util.UUID.randomUUID()}/t"
    val relPath = new org.apache.hadoop.fs.Path(rel)
    val f = relPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      IcebergTable.writeAppend(spark, (0L until 20L).toDF("k").repartition(2), rel)
      IcebergTable.writeAppend(spark, (20L until 30L).toDF("k"), rel)
      IcebergTable.deleteWhere(spark, rel, col("k") % 5 === 0L)
      val want = (0L until 30L).filterNot(_ % 5 == 0)
      assert(IcebergTable.read(spark, rel).as[Long].collect().sorted.toSeq == want)
      // the same table through its absolute spelling
      val abs = f.makeQualified(relPath).toString
      assert(IcebergTable.read(spark, abs).as[Long].collect().sorted.toSeq == want)
    } finally { f.delete(relPath.getParent, true); () }
  }

  test("timestamp travel via snapshot-log; discovery without version-hint") {
    val t = fresh()
    IcebergTable.writeAppend(spark, Seq(1L, 2L).toDF("k"), t)
    val afterFirst = System.currentTimeMillis()
    Thread.sleep(10)
    IcebergTable.writeAppend(spark, Seq(3L).toDF("k"), t)
    assert(IcebergTable.read(spark, t, asOfMillis = Some(afterFirst))
      .count() == 2L)
    assert(IcebergTable.read(spark, t).count() == 3L)
    // drop the hint: the reader falls back to the highest v*.metadata.json
    val hint = new org.apache.hadoop.fs.Path(t + "/metadata/version-hint.text")
    hint.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hint, false)
    assert(IcebergTable.read(spark, t).count() == 3L)
  }

  test("CONVERT iceberg -> delta in place: manifests drive the file set, not listing") {
    val t = fresh()
    // two appends; the Iceberg data/ dir will NOT contain dead files,
    // so also leave a stray parquet that a naive lister would pick up
    graft.sources.IcebergTable.writeAppend(spark,
      spark.range(0, 60).select(col("id").as("k")), t)
    graft.sources.IcebergTable.writeAppend(spark,
      spark.range(60, 100).select(col("id").as("k")), t)
    spark.range(9000, 9100).select(col("id").as("k"))
      .coalesce(1).write.parquet(t + "/stray")
    graft.sources.DeltaLog.convertIcebergToDelta(spark, t)
    assert(graft.sources.DeltaLog.isDeltaTable(spark, t))
    // the delta view equals the ICEBERG live set — the stray dir is invisible
    assert(graft.sources.DeltaLog.read(spark, t).count() == 100L)
    // manifest record counts became numRecords stats: metadata-only COUNT works
    assert(graft.sources.DeltaLog.countRows(spark, t) == 100L)
    // the converted table is writable as Delta
    graft.sources.DeltaLog.write(spark, Seq(7777L).toDF("k"), t, "append")
    assert(graft.sources.DeltaLog.read(spark, t).count() == 101L)
  }

  test("mirrorDelta: UniForm shape — Iceberg readers see the Delta state") {
    val t = fresh()
    graft.sources.DeltaLog.write(spark,
      spark.range(0, 80).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartition(2), t)
    graft.sources.IcebergTable.mirrorDelta(spark, t)
    assert(IcebergTable.read(spark, t).count() == 80L)
    assert(IcebergTable.countRows(spark, t) == 80L)
    assert(IcebergTable.read(spark, t).agg(sum("v")).as[Long].head() == 6320L)
    // delta evolves; a re-mirror catches the iceberg view up
    graft.sources.DeltaLog.write(spark,
      Seq((500L, 0L)).toDF("k", "v"), t, "append")
    assert(IcebergTable.read(spark, t).count() == 80L) // stale until re-mirror
    graft.sources.IcebergTable.mirrorDelta(spark, t)
    assert(IcebergTable.read(spark, t).count() == 81L)
    // DV-carrying tables mirror the mask as a v2 position-delete file:
    // the Iceberg view equals the masked Delta state, with every data
    // file byte-untouched
    graft.sources.DeltaLog.deleteWhere(spark, t, col("k") % 8 === 0L)
    val deltaRows = graft.sources.DeltaLog.read(spark, t)
      .as[(Long, Long)].collect().toSet
    graft.sources.IcebergTable.mirrorDelta(spark, t)
    val iceRows = IcebergTable.read(spark, t).as[(Long, Long)].collect().toSet
    assert(iceRows == deltaRows,
      s"Iceberg view diverged from masked Delta state: ${iceRows.size} vs ${deltaRows.size}")
    assert(IcebergTable.countRows(spark, t) == deltaRows.size.toLong)
  }

  test("MoR position deletes: deleteWhere writes slots, no data file touched") {
    val t = fresh()
    IcebergTable.writeAppend(spark,
      (0L until 100L).map(i => (i, s"g${i % 4}")).toDF("k", "grp")
        .repartition(3), t)
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(t + "/data")
    def dataState() = f.listStatus(dataDir)
      .filter(_.getPath.getName.startsWith("part-"))
      .map(s => s.getPath.getName -> (s.getLen, s.getModificationTime)).toMap
    val before = dataState()

    IcebergTable.deleteWhere(spark, t, col("k") % 10 === 0L)
    // every original data file byte-untouched — merge-on-read, not rewrite
    assert(dataState() == before)
    val got = IcebergTable.read(spark, t).select("k").as[Long].collect().toSet
    assert(got == (0L until 100L).filterNot(_ % 10 == 0).toSet)
    // composable: a second predicate's deletes stack
    IcebergTable.deleteWhere(spark, t, col("grp") === "g1")
    val got2 = IcebergTable.read(spark, t).select("k").as[Long].collect().toSet
    assert(got2 == (0L until 100L).filterNot(i => i % 10 == 0 || i % 4 == 1).toSet)
    // countRows falls back to the real count under deletes
    assert(IcebergTable.countRows(spark, t) == got2.size.toLong)
  }

  test("MoR equality deletes scope by sequence number: re-insert survives") {
    val t = fresh()
    IcebergTable.writeAppend(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    // equality-delete k=2: suppressed in the seq-1 data file
    IcebergTable.deleteEquals(spark, t, Seq(2L).toDF("k"))
    assert(IcebergTable.read(spark, t).select("k").as[Long].collect().toSet ==
      Set(1L, 3L))
    // re-insert k=2 at a HIGHER sequence: the old delete must not eat it
    IcebergTable.writeAppend(spark, Seq((2L, "b2")).toDF("k", "v").coalesce(1), t)
    val got = IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (3L, "c"), (2L, "b2")),
      s"re-inserted row must survive the older equality delete: $got")
    // and a NEW delete at a yet-higher sequence suppresses the re-insert
    IcebergTable.deleteEquals(spark, t, Seq(2L).toDF("k"))
    assert(IcebergTable.read(spark, t).select("k").as[Long].collect().toSet ==
      Set(1L, 3L))
  }

  test("SQL surface: SELECT over iceberg refs and MoR DELETE statement") {
    val t = fresh()
    val s1 = IcebergTable.writeAppend(spark,
      (0L until 40L).map(i => (i, i % 4)).toDF("k", "b").coalesce(1), t)
    val sum0 = graft.sources.GraftSql.exec(spark,
      s"SELECT sum(k) AS s FROM iceberg.`$t`").as[Long].head()
    assert(sum0 == (0L until 40L).sum)
    graft.sources.GraftSql.exec(spark,
      s"DELETE FROM iceberg.`$t` WHERE b = 1")
    val got = graft.sources.GraftSql.exec(spark,
      s"SELECT k FROM iceberg.`$t` ORDER BY k").as[Long].collect().toSeq
    assert(got == (0L until 40L).filterNot(_ % 4 == 1))
    // snapshot travel through SQL still sees the pre-delete state
    val all = graft.sources.GraftSql.exec(spark,
      s"SELECT count(*) AS c FROM iceberg.`$t` VERSION AS OF $s1")
      .as[Long].head()
    assert(all == 40L)
  }

  test("expireSnapshots drops old snapshots and reclaims their orphans") {
    val t = fresh()
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IcebergTable.writeAppend(spark, (0L until 10L).toDF("k").coalesce(1), t)
    IcebergTable.writeAppend(spark, (10L until 20L).toDF("k").coalesce(1), t)
    IcebergTable.deleteWhere(spark, t, col("k") < 3L)
    // materialize = REPLACE snapshot: the three older snapshots' data,
    // delete files, manifests and lists become expire-candidates
    IcebergTable.materializeDeletes(spark, t)
    val dataDir = new org.apache.hadoop.fs.Path(t + "/data")
    val filesBefore = f.listStatus(dataDir).length
    val live = IcebergTable.state(spark, t).dataFiles
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet

    val deleted = IcebergTable.expireSnapshots(spark, t,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    assert(deleted > 0L, "expiry reclaimed nothing")
    // exactly the live REPLACE files survive under data/
    val after = f.listStatus(dataDir).map(_.getPath.getName).toSet
    assert(after == live, s"data/ after expiry: $after vs live $live")
    assert(after.size < filesBefore)
    // the view is intact, metadata holds one snapshot, appends continue
    assert(IcebergTable.read(spark, t).as[Long].collect().toSet ==
      (3L until 20L).toSet)
    assert(IcebergTable.state(spark, t).hasDeletes == false)
    IcebergTable.writeAppend(spark, Seq(100L).toDF("k").coalesce(1), t)
    assert(IcebergTable.read(spark, t).count() == 18L)
    // the SQL verb drives the same machinery (retain both remaining
    // snapshots -> reclaims nothing)
    val viaSql = graft.sources.GraftSql.exec(spark,
      s"EXPIRE SNAPSHOTS iceberg.`$t` RETAIN LAST 2").as[Long].head()
    assert(viaSql == 0L)
    assert(IcebergTable.read(spark, t).count() == 18L)
  }

  test("time travel to an expired snapshot fails loudly, not partially") {
    val t = fresh()
    val s1 = IcebergTable.writeAppend(spark, (0L until 5L).toDF("k"), t)
    IcebergTable.writeAppend(spark, (5L until 10L).toDF("k"), t)
    IcebergTable.expireSnapshots(spark, t,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    val e = intercept[RuntimeException](
      IcebergTable.read(spark, t, snapshotId = Some(s1)))
    assert(e.getMessage.contains("not in"), e.getMessage)
    assert(IcebergTable.read(spark, t).count() == 10L)
  }

  test("MERGE INTO delta USING an iceberg source") {
    val tgt = fresh(); val src = fresh()
    graft.sources.DeltaLog.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), tgt)
    IcebergTable.writeAppend(spark,
      Seq((2L, "B"), (3L, "c")).toDF("k", "v").coalesce(1), src)
    graft.sources.GraftSql.exec(spark,
      s"""MERGE INTO delta.`$tgt` AS t USING iceberg.`$src` AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(graft.sources.DeltaLog.read(spark, tgt)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("CONVERT refuses a table carrying MoR deletes; materialize unblocks it") {
    val t = fresh()
    IcebergTable.writeAppend(spark, (0L until 10L).toDF("k"), t)
    IcebergTable.deleteWhere(spark, t, col("k") === 5L)
    val e = intercept[IllegalArgumentException](
      graft.sources.DeltaLog.convertIcebergToDelta(spark, t))
    assert(e.getMessage.contains("merge-on-read"), e.getMessage)
    // materialize rewrites survivors into a REPLACE snapshot (no delete
    // files left), after which the convert proceeds — driven through
    // the SQL verb the refusal names
    graft.sources.GraftSql.exec(spark,
      s"REORG TABLE iceberg.`$t` APPLY (PURGE)")
    assert(!IcebergTable.state(spark, t).hasDeletes)
    graft.sources.DeltaLog.convertIcebergToDelta(spark, t)
    assert(graft.sources.DeltaLog.read(spark, t)
      .as[Long].collect().toSet == (0L until 10L).toSet - 5L)
  }

  test("racing blind appends both land via bounded rebase") {
    val t = fresh()
    IcebergTable.writeAppend(spark, Seq((1L, "base")).toDF("id", "v"), t)
    // the racer fires from INSIDE the victim's commit window (after the
    // victim staged data and numbered its metadata, before it creates
    // vN.metadata.json) — exactly the interleaving a real race occupies.
    // The racer's own append re-enters the hook; guarded out.
    var fired = false
    var inRacer = false
    IcebergTable.raceHook = () =>
      if (!fired && !inRacer) {
        fired = true; inRacer = true
        try IcebergTable.writeAppend(spark,
          Seq((2L, "racer")).toDF("id", "v"), t)
        finally inRacer = false
      }
    try IcebergTable.writeAppend(spark,
      Seq((3L, "victim")).toDF("id", "v"), t)
    finally IcebergTable.raceHook = () => ()
    assert(fired)
    // both commits landed: the victim rebased onto the racer's snapshot
    // instead of failing, and no rows were lost or duplicated
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (2L, "racer"), (3L, "victim")))
    // three snapshots in history: base, racer, rebased victim
    assert(IcebergTable.metadataTable(spark, t, "snapshots").count() == 3L)

    // cross-process window: the racer's vN.metadata.json is visible
    // but its version-hint flip has NOT landed yet (the hint write is a
    // separate, later step). The rebase must resolve the racer's state
    // from the LISTING, not the stale hint — otherwise the rebased
    // commit silently drops the racer's snapshot.
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    fired = false
    IcebergTable.raceHook = () =>
      if (!fired && !inRacer) {
        fired = true; inRacer = true
        try {
          IcebergTable.writeAppend(spark,
            Seq((10L, "lagger")).toDF("id", "v"), t)
          // rewind the hint to the pre-racer version
          val hint = new org.apache.hadoop.fs.Path(t, "metadata/version-hint.text")
          val o = f.create(hint, true)
          try o.write("3".getBytes) finally o.close()
        } finally inRacer = false
      }
    try IcebergTable.writeAppend(spark,
      Seq((11L, "victim2")).toDF("id", "v"), t)
    finally IcebergTable.raceHook = () => ()
    assert(fired)
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (2L, "racer"), (3L, "victim"),
        (10L, "lagger"), (11L, "victim2")))

    // a REPLACE commit (carried entries) must NOT rebase — its carried
    // selection derives from the snapshot it read, so a racer
    // invalidates it and the conflict surfaces loudly
    fired = false
    IcebergTable.raceHook = () =>
      if (!fired && !inRacer) {
        fired = true; inRacer = true
        try IcebergTable.writeAppend(spark,
          Seq((4L, "racer2")).toDF("id", "v"), t)
        finally inRacer = false
      }
    try intercept[java.io.IOException] {
      IcebergTable.writeAppend(spark,
        Seq((5L, "replace")).toDF("id", "v"), t,
        carryPrevious = false,
        carryFiles = Seq(IcebergTable.CarriedFile(
          "data/nope.parquet", 1L, 1L, None)))
    } finally IcebergTable.raceHook = () => ()
    assert(fired)

    // a LOST rebase attempt must not leak its staged avros under
    // metadata/: every snap-*.avro on disk IS some snapshot's
    // manifest-list (the retry sweep unlinks the lost attempt's
    // manifest + list through the same per-nonce glob, so the snap
    // check covers both)
    val mdir = new java.io.File(t, "metadata")
    val lists = IcebergTable.metadataTable(spark, t, "snapshots")
      .select("manifest_list").as[String].collect()
      .map(p => new java.io.File(p).getName).toSet
    val snapsOnDisk = mdir.listFiles().map(_.getName)
      .filter(n => n.startsWith("snap-") && n.endsWith(".avro")).toSet
    assert(snapsOnDisk.subsetOf(lists),
      s"leaked unreferenced manifest-list avros: ${snapsOnDisk -- lists}")
  }

  test("post-commit failure does not rebase onto own commit (no duplication)") {
    val t = fresh()
    IcebergTable.writeAppend(spark, Seq((1L, "a")).toDF("id", "v"), t)
    // the hint write fails AFTER v2.metadata.json landed: the retry
    // path sees vN exists, but it is THIS attempt's own commit — it
    // must recognize ownership (per-call nonce) and report success
    // instead of rebasing and re-appending the same staged files
    var fired = false
    IcebergTable.postCommitHook = () =>
      if (!fired) { fired = true
        throw new java.io.IOException("simulated hint-write failure") }
    try IcebergTable.writeAppend(spark, Seq((2L, "b")).toDF("id", "v"), t)
    finally IcebergTable.postCommitHook = () => ()
    assert(fired)
    // exactly one new snapshot, no duplicated rows, readable hint
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(IcebergTable.read(spark, t).count() == 2L)
    assert(IcebergTable.metadataTable(spark, t, "snapshots").count() == 2L)
    // and the table still accepts subsequent appends (hint repaired)
    IcebergTable.writeAppend(spark, Seq((3L, "c")).toDF("id", "v"), t)
    assert(IcebergTable.read(spark, t).count() == 3L)
  }

  test("torn or foreign Avro metadata fails read and changes with an IOException naming the file") {
    // the first IOException whose message names the bad file, wherever
    // Spark or an abort wrapper put it in the cause chain
    def namedIo(e: Throwable, file: String): Option[java.io.IOException] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
        case io: java.io.IOException
            if io.getMessage != null && io.getMessage.contains(file) => io
      }
    val corruptions: Seq[(String, Array[Byte] => Array[Byte])] = Seq(
      "half its bytes" -> (b => b.take(b.length / 2)),
      "garbage" -> (_ => "definitely not avro".getBytes))
    for ((kind, prefix) <- Seq("list" -> "snap-", "manifest" -> "manifest-");
         (how, corrupt) <- corruptions; (call, run) <- Seq[(String, String => Unit)](
           "read" -> (t => { IcebergTable.read(spark, t).count(); () }),
           "changes" -> (t => { IcebergTable.changes(spark, t).count(); () }))) {
      val t = fresh()
      IcebergTable.writeAppend(spark, (0L until 10L).toDF("k"), t)
      val victim = new java.io.File(t, "metadata").listFiles().toSeq
        .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(".avro"))
      assert(victim.size == 1, victim)
      val path = victim.head.toPath
      Files.write(path, corrupt(Files.readAllBytes(path)))
      val e = intercept[Exception](run(t))
      val io = namedIo(e, victim.head.getName)
      assert(io.exists(_.getMessage.startsWith("unreadable Iceberg Avro metadata file")),
        s"$call over a $kind cut to $how: $e")
    }
  }

  test("metadata reads make no local copy, on the driver and on executors") {
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = conf.get("fs.file.impl")
    conf.set("fs.file.impl", classOf[LocalCopyProbeFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    LocalCopyProbeFileSystem.copies.set(0L)
    // the q_iceberg_changelog sequence; 0 bytes forces executor-side
    // manifest parsing
    try for (driverBytes <- Seq(None, Some("0"))) {
      driverBytes.foreach(spark.conf.set("spark.graft.iceberg.driverManifestBytes", _))
      try {
        val t = fresh()
        val rows = spark.range(0, 60).select(col("id").as("k"),
          (col("id") % 7).cast("int").as("g"), (col("id") * 10).as("v"))
        IcebergTable.writeAppend(spark, rows.where(col("k") % 2 === 0), t)
        IcebergTable.writeAppend(spark, rows.where(col("k") % 2 === 1), t)
        IcebergTable.deleteWhere(spark, t, col("k") % 10 === 0)
        IcebergTable.updateWhere(spark, t, col("v") > 400, Map("g" -> lit(-1)))
        IcebergTable.deleteEquals(spark, t, Seq(5).toDF("g"))
        assert(IcebergTable.changes(spark, t).count() > 0L)
        assert(IcebergTable.read(spark, t).count() > 0L)
      } finally spark.conf.unset("spark.graft.iceberg.driverManifestBytes")
      assert(LocalCopyProbeFileSystem.copies.get == 0L,
        s"local copies with driverManifestBytes=$driverBytes")
    } finally {
      conf.set("fs.file.impl", impl)
      conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("concurrent appends in one JVM both land: no lost snapshot") {
    val t = fresh()
    IcebergTable.writeAppend(spark, Seq((1L, "base")).toDF("id", "v"), t)
    // line both writers up right before their publish (once each: a
    // rebased retry re-enters the hook) ...
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val lined = new ThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = false
    }
    IcebergTable.raceHook = () =>
      if (!lined.get) {
        lined.set(true)
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    // ... and hold open the check-then-truncate window of a
    // create-if-absent of vN.metadata.json
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = conf.get("fs.file.impl")
    conf.set("fs.file.impl", classOf[SlowMetadataCreateProbeFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try Seq(2L, 3L).map { k =>
        pool.submit(() => IcebergTable.writeAppend(spark,
          Seq((k, "racer")).toDF("id", "v"), t))
      }.foreach(_.get())
    finally {
      pool.shutdown()
      IcebergTable.raceHook = () => ()
      conf.set("fs.file.impl", impl)
      conf.unset("fs.file.impl.disable.cache")
    }
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (2L, "racer"), (3L, "racer")))
    assert(IcebergTable.metadataTable(spark, t, "snapshots").count() == 3L)
  }

  // ---- the one commit step: pinned bases, one listing, no lost commit

  /** Runs `racer` the first time it is called on a `snap-*.avro`; returns
    * whether it did. */
  private class RaceOnSnap(racer: => Unit) extends (org.apache.hadoop.fs.Path => Unit) {
    @volatile var fired = false
    def apply(p: org.apache.hadoop.fs.Path): Unit =
      if (!fired && p.getName.startsWith("snap-") && p.getName.endsWith(".avro")) {
        fired = true
        racer
      }
  }

  /** `snap-`/`manifest-*.avro` files under `metadata/` that no snapshot
    * in the current metadata references. */
  private def unreferencedAvros(t: String): Set[String] = {
    def avroRecords(p: String): Seq[org.apache.avro.generic.GenericRecord] = {
      val r = new org.apache.avro.file.DataFileReader(
        new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath),
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      try r.iterator().asScala.toVector finally r.close()
    }
    val lists = IcebergTable.metadataTable(spark, t, "snapshots")
      .select("manifest_list").as[String].collect().toSeq
    val referenced = lists.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet ++
      lists.flatMap(avroRecords).map(m =>
        new org.apache.hadoop.fs.Path(m.get("manifest_path").toString).getName)
    new java.io.File(t, "metadata").listFiles().map(_.getName)
      .filter(n => (n.startsWith("snap-") || n.startsWith("manifest-")) &&
        n.endsWith(".avro"))
      .toSet -- referenced
  }

  /** Names of every file under the table's `data/` tree. */
  private def dataFileNames(t: String): Set[String] = {
    val root = java.nio.file.Paths.get(t, "data")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(_.getFileName.toString).toSet
    finally walk.close()
  }

  test("expireSnapshots raced on its first snap-*.avro unlink keeps the racer's commit") {
    // the expire publishes before it deletes, so the racer stacks on it
    CommitProbeFileSystem.during(spark) {
      val t = fresh()
      (1L to 3L).foreach(i =>
        IcebergTable.writeAppend(spark, Seq((i, s"r$i")).toDF("id", "v"), t))
      val expireRace = new RaceOnSnap(IcebergTable.writeAppend(spark,
        Seq((9L, "racer")).toDF("id", "v"), t))
      CommitProbeFileSystem.onDelete = expireRace
      IcebergTable.expireSnapshots(spark, t,
        olderThanMs = System.currentTimeMillis() + 60000L, retainLast = 1)
      assert(expireRace.fired)
      assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet ==
        Set((1L, "r1"), (2L, "r2"), (3L, "r3"), (9L, "racer")))
    }
  }

  test("cherrypick raced on its first manifest-list read loses loudly") {
    // it commits against the base it planned from, never over the racer
    CommitProbeFileSystem.during(spark) {
      val t = fresh()
      IcebergTable.writeAppend(spark, Seq((1L, "base")).toDF("id", "v"), t)
      val staged = IcebergTable.writeAppend(spark,
        Seq((2L, "staged")).toDF("id", "v"), t, toBranch = Some("audit"))
      val pickRace = new RaceOnSnap(IcebergTable.writeAppend(spark,
        Seq((9L, "racer")).toDF("id", "v"), t))
      CommitProbeFileSystem.onOpen = pickRace
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
        IcebergTable.cherrypick(spark, t, staged))
      assert(pickRace.fired)
      assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet ==
        Set((1L, "base"), (9L, "racer")))
    }
  }

  test("MERGE raced by a newer MERGE on the same key leaves one live row") {
    CommitProbeFileSystem.during(spark) {
      val t = fresh()
      IcebergTable.writeAppend(spark,
        Seq((1L, "base", 1L), (2L, "other", 1L)).toDF("id", "v", "ts"), t)
      val mergeRace = new RaceOnSnap(IcebergTable.mergeUpsert(spark, t,
        Seq((1L, "racer", 6L)).toDF("id", "v", "ts"), Seq("id"), "ts"))
      CommitProbeFileSystem.onOpen = mergeRace
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
        IcebergTable.mergeUpsert(spark, t,
          Seq((1L, "victim", 5L)).toDF("id", "v", "ts"), Seq("id"), "ts"))
      assert(mergeRace.fired)
      assert(IcebergTable.read(spark, t).as[(Long, String, Long)].collect()
        .sortBy(_._1).toSeq == Seq((1L, "racer", 6L), (2L, "other", 1L)))
    }
  }

  test("expireSnapshots publishes before it deletes: a lost expire deletes nothing") {
    val t = fresh()
    (1L to 3L).foreach(i =>
      IcebergTable.writeAppend(spark, Seq((i, s"r$i")).toDF("id", "v"), t))
    var fired = false
    IcebergTable.raceHook = () =>
      if (!fired) {
        fired = true
        IcebergTable.writeAppend(spark, Seq((9L, "racer")).toDF("id", "v"), t)
      }
    try intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      IcebergTable.expireSnapshots(spark, t,
        olderThanMs = System.currentTimeMillis() + 60000L, retainLast = 1))
    finally IcebergTable.raceHook = () => ()
    assert(fired)
    val ids = IcebergTable.metadataTable(spark, t, "snapshots")
      .select("snapshot_id").as[Long].collect().toSeq
    assert(ids.size == 4, ids)
    // every snapshot the current metadata lists still time-travels
    assert(ids.map(id => IcebergTable.read(spark, t, snapshotId = Some(id)).count())
      .sorted == Seq(1L, 2L, 3L, 4L))
  }

  test("format-version never goes down; last-sequence-number rises per snapshot") {
    val t = fresh()
    def meta(): com.fasterxml.jackson.databind.JsonNode = {
      val mdir = new java.io.File(t, "metadata")
      val latest = mdir.listFiles().map(_.getName)
        .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
          n.stripPrefix("v").stripSuffix(".metadata.json").toInt }.max
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new java.io.File(mdir, s"v$latest.metadata.json"))
    }
    IcebergTable.writeAppend(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    assert(meta().path("format-version").asInt() == 1)
    IcebergTable.deleteWhere(spark, t, col("id") === 1L)
    var lastSeq = meta().path("last-sequence-number").asLong()
    // each later op adds one snapshot, except the closing setRef
    val steps: Seq[(String, () => Unit)] = Seq(
      "append" -> (() => { IcebergTable.writeAppend(spark,
        Seq((3L, "c")).toDF("id", "v"), t); () }),
      "branch append" -> (() => { IcebergTable.writeAppend(spark,
        Seq((4L, "d")).toDF("id", "v"), t, toBranch = Some("audit")); () }),
      "cherrypick" -> (() => { IcebergTable.cherrypick(spark, t,
        IcebergTable.refSnapshotId(spark, t, "audit")); () }))
    for ((name, step) <- steps) {
      step()
      val m = meta()
      assert(m.path("format-version").asInt() == 2, s"$name: $m")
      val seq = m.path("last-sequence-number").asLong()
      assert(seq > lastSeq, s"$name: last-sequence-number $seq after $lastSeq")
      val newest = m.path("snapshots").elements().asScala.toSeq.last
      assert(newest.path("sequence-number").asLong() == seq, s"$name: $newest")
      lastSeq = seq
    }
    IcebergTable.setRef(spark, t, "rc1", IcebergTable.refSnapshotId(spark, t, "main"))
    assert(meta().path("format-version").asInt() == 2)
    assert(meta().path("last-sequence-number").asLong() == lastSeq)
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("one listing of metadata/ per commit") {
    CommitProbeFileSystem.during(spark) {
      val t = fresh()
      IcebergTable.writeAppend(spark,
        Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ts"), t)
      def listings(op: => Any): Long = {
        val before = CommitProbeFileSystem.metadataListings.get
        op
        CommitProbeFileSystem.metadataListings.get - before
      }
      assert(listings(IcebergTable.writeAppend(spark,
        Seq((3L, "c", 1L)).toDF("id", "v", "ts"), t)) == 1L)
      assert(listings(IcebergTable.deleteWhere(spark, t, col("id") === 3L)) == 1L)
      assert(listings(IcebergTable.mergeUpsert(spark, t,
        Seq((1L, "m", 2L)).toDF("id", "v", "ts"), Seq("id"), "ts")) == 1L)
      val head = IcebergTable.refSnapshotId(spark, t, "main")
      assert(listings(IcebergTable.setRef(spark, t, "rc1", head)) == 1L)
    }
  }

  test("every kind of pinned write loses a race the same way") {
    val kinds: Seq[(String, String => Any)] = Seq(
      "MERGE" -> (t => IcebergTable.mergeUpsert(spark, t,
        Seq((1L, "m", 5L)).toDF("id", "v", "ts"), Seq("id"), "ts")),
      "UPDATE" -> (t => IcebergTable.updateWhere(spark, t, col("id") === 1L,
        Map("v" -> lit("u")))),
      "deleteWhere" -> (t => IcebergTable.deleteWhere(spark, t, col("id") === 1L)),
      "deleteEquals" -> (t => IcebergTable.deleteEquals(spark, t, Seq("a").toDF("v"))),
      "rewriteDataFiles" -> (t => IcebergTable.rewriteDataFiles(spark, t)),
      "rewriteManifests" -> (t => IcebergTable.rewriteManifests(spark, t)),
      "cherrypick" -> (t => IcebergTable.cherrypick(spark, t,
        IcebergTable.refSnapshotId(spark, t, "audit"))),
      "setRef" -> (t => IcebergTable.setRef(spark, t, "rc1",
        IcebergTable.refSnapshotId(spark, t, "main"))),
      "fastForward" -> (t => IcebergTable.fastForward(spark, t, "audit")),
      "alterAddColumns" -> (t => IcebergTable.alterAddColumns(spark, t,
        org.apache.spark.sql.types.StructType.fromDDL("extra STRING"))))
    for ((kind, op) <- kinds) {
      val t = fresh()
      IcebergTable.writeAppend(spark, Seq((1L, "a", 1L)).toDF("id", "v", "ts"), t)
      IcebergTable.writeAppend(spark, Seq((2L, "b", 1L)).toDF("id", "v", "ts"), t)
      IcebergTable.writeAppend(spark, Seq((3L, "staged", 1L)).toDF("id", "v", "ts"),
        t, toBranch = Some("audit"))
      val before = IcebergTable.read(spark, t).as[(Long, String, Long)].collect().toSet
      val dataBefore = dataFileNames(t)
      var fired = false
      var inRacer = false
      IcebergTable.raceHook = () =>
        if (!fired && !inRacer) {
          fired = true; inRacer = true
          try IcebergTable.writeAppend(spark,
            Seq((9L, "racer", 1L)).toDF("id", "v", "ts"), t)
          finally inRacer = false
        }
      try intercept[org.apache.hadoop.fs.FileAlreadyExistsException](op(t))
      finally IcebergTable.raceHook = () => ()
      assert(fired, kind)
      assert(IcebergTable.read(spark, t).as[(Long, String, Long)].collect().toSet ==
        before + ((9L, "racer", 1L)), kind)
      assert(unreferencedAvros(t).isEmpty, s"$kind leaked ${unreferencedAvros(t)}")
      // the loser's staged parquet goes too: every new file under data/
      // is the racer's, which the live state references
      val live = IcebergTable.state(spark, t).dataFiles
        .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
      val leaked = dataFileNames(t) -- dataBefore -- live
      assert(leaked.isEmpty, s"$kind left its staged data files $leaked")
    }
  }
}

/** `file://` filesystem whose create-if-absent of an Iceberg
  * `vN.metadata.json` checks for the file, stalls 50 ms, then opens it
  * truncating: Hadoop's local `create(p, overwrite = false)`, with the
  * window between its existence check and its open held open. */
class SlowMetadataCreateProbeFileSystem extends graft.sources.FastLocalFileSystem {
  import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, Path}

  override def create(p: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    val checkThenOpen =
      !overwrite && p.getName.matches("v\\d+\\.metadata\\.json")
    if (checkThenOpen) {
      if (exists(p)) throw new FileAlreadyExistsException(s"File already exists: $p")
      Thread.sleep(50)
    }
    super.create(p, permission, overwrite || checkThenOpen, bufferSize,
      replication, blockSize, progress)
  }
}

/** `file://` filesystem that counts `copyToLocalFile` calls, so a spec can
  * pin how many local scratch copies a code path makes. */
class LocalCopyProbeFileSystem extends graft.sources.FastLocalFileSystem {
  override def copyToLocalFile(delSrc: Boolean, src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path, useRawLocalFileSystem: Boolean): Unit = {
    LocalCopyProbeFileSystem.copies.incrementAndGet()
    super.copyToLocalFile(delSrc, src, dst, useRawLocalFileSystem)
  }
}

object LocalCopyProbeFileSystem {
  val copies = new java.util.concurrent.atomic.AtomicLong
}

/** `file://` filesystem that runs [[CommitProbeFileSystem.onOpen]] and
  * [[CommitProbeFileSystem.onDelete]] before every `open` and `delete`,
  * and counts `listStatus` calls on a directory named `metadata` (an
  * Iceberg table's) or `_delta_log` (a Delta table's). */
class CommitProbeFileSystem extends graft.sources.FastLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path}

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CommitProbeFileSystem.onOpen(p)
    super.open(p, bufferSize)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CommitProbeFileSystem.onDelete(p)
    super.delete(p, recursive)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    if (p.getName == "metadata") CommitProbeFileSystem.metadataListings.incrementAndGet()
    if (p.getName == "_delta_log") CommitProbeFileSystem.deltaLogListings.incrementAndGet()
    super.listStatus(p)
  }
}

object CommitProbeFileSystem {
  @volatile var onOpen: org.apache.hadoop.fs.Path => Unit = _ => ()
  @volatile var onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()
  val metadataListings = new java.util.concurrent.atomic.AtomicLong
  val deltaLogListings = new java.util.concurrent.atomic.AtomicLong

  /** Run `body` with every `file://` FileSystem of `spark` one of these. */
  def during[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = conf.get("fs.file.impl")
    conf.set("fs.file.impl", classOf[CommitProbeFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      onOpen = _ => ()
      onDelete = _ => ()
      conf.set("fs.file.impl", impl)
      conf.unset("fs.file.impl.disable.cache")
    }
  }
}
