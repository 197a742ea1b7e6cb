package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.{DeltaLog, GraftSql}
import graft.sources.{CommitRaceException, ConcurrentAppendException,
  ConcurrentDeleteDeleteException, ConcurrentDeleteReadException,
  ConcurrentTransactionException, MetadataChangedException, ProtocolChangedException}
import org.apache.spark.sql.functions._

/** Optimistic-concurrency conflict detection (delta-spark's conflict
  * checker, from the public protocol's concurrency semantics): a DML
  * operation pinned at snapshot version `b` that finds the log advanced
  * REBASES — commits at the tip without recomputing — when every
  * intervening commit is provably non-conflicting (a blind append under
  * WriteSerializable), and otherwise throws the typed
  * [[CommitRaceException]] subclass that `withDmlRetry` turns into a
  * fresh-snapshot recompute. At 1000-writer scale this is the difference
  * between "every concurrent append aborts my MERGE" and "the MERGE
  * lands one version later, zero wasted work".
  *
  * The concurrent writer is injected via `DeltaLog.raceHook`, which runs
  * after the victim computed its plan from the pinned snapshot and
  * before its commit — exactly the window a real race occupies. Attempt
  * counts distinguish a rebase (1 plan computation) from a recompute
  * (2+).
  */
class ConcurrencySpec extends SparkSpec
    with org.scalatest.BeforeAndAfterEach {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft-conc-").toString + "/t"

  /** Install a hook that fires `act` once, on the victim's FIRST attempt
    * only; returns a counter of how many attempts the victim made. The
    * injected writer's own commits re-enter the hook — guarded out so
    * the counter sees only the victim's attempts. */
  private def raceOnce(act: () => Unit): () => Int = {
    var attempts = 0
    var fired = false
    var inAct = false
    DeltaLog.raceHook = (_, _) =>
      if (!inAct) {
        attempts += 1
        if (!fired) {
          fired = true; inAct = true
          try act() finally inAct = false
        }
      }
    () => attempts
  }

  override def afterEach(): Unit = {
    DeltaLog.raceHook = (_, _) => ()
    super.afterEach()
  }

  private def seed(t: String, props: String = ""): Unit = {
    GraftSql.exec(spark, s"CREATE TABLE delta.`$t` (k BIGINT, v STRING)$props")
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t,
      mode = "append")
  }

  test("UPDATE rebases over a concurrent blind append: no recompute") {
    val t = fresh(); seed(t)
    val base = DeltaLog.snapshot(spark, t).version
    val attempts = raceOnce(() =>
      DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append"))
    val v = DeltaLog.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit("A")))
    // the append took base+1; the UPDATE landed at base+2 WITHOUT
    // recomputing (one attempt = one raceHook invocation)
    assert(v == base + 2)
    assert(attempts() == 1)
    val got = DeltaLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "A", 2L -> "b", 9L -> "z"))
  }

  test("MERGE rebases over a concurrent blind append") {
    val t = fresh(); seed(t)
    val base = DeltaLog.snapshot(spark, t).version
    val attempts = raceOnce(() =>
      DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append"))
    val src = Seq((2L, "B2"), (3L, "c")).toDF("k", "v")
    graft.sources.Merge.into(spark, t, src, keys = Seq("k"))
      .whenMatchedUpdate(Map("v" -> col("s.v")))
      .whenNotMatchedInsert(Map("k" -> col("s.k"), "v" -> col("s.v")))
      .execute()
    assert(attempts() == 1)
    val got = DeltaLog.read(spark, t).select("k", "v")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c", 9L -> "z"))
    assert(DeltaLog.snapshot(spark, t).version == base + 2)
  }

  test("DV DELETE rebases over a concurrent blind append") {
    val t = fresh(); seed(t)
    val base = DeltaLog.snapshot(spark, t).version
    val attempts = raceOnce(() =>
      DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append"))
    val v = DeltaLog.deleteWhere(spark, t, col("k") === 2L)
    assert(v == base + 2)
    assert(attempts() == 1)
    val got = DeltaLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 9L -> "z"))
  }

  test("OPTIMIZE rebases over a concurrent blind append and keeps it live") {
    val t = fresh(); seed(t)
    DeltaLog.write(spark, Seq((3L, "c")).toDF("k", "v"), t, mode = "append")
    val attempts = raceOnce(() =>
      DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append"))
    DeltaLog.optimize(spark, t, targetFiles = 1)
    assert(attempts() == 1)
    val got = DeltaLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c", 9L -> "z"))
  }

  test("delete/delete overlap recomputes from a fresh snapshot") {
    val t = fresh()
    // BOTH rows in ONE file: the seed()'s two-file layout stopped
    // conflicting once (a) zone maps give each DELETE its own file and
    // (b) a whole-file delete no longer emits the spurious
    // deletionVectors protocol upgrade that used to trip the loser
    GraftSql.exec(spark, s"CREATE TABLE delta.`$t` (k BIGINT, v STRING)")
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1),
      t, mode = "append")
    val attempts = raceOnce(() => {
      DeltaLog.deleteWhere(spark, t, col("k") === 2L); ()
    })
    // same file touched by both DELETEs → ConcurrentDeleteDelete inside,
    // withDmlRetry recomputes (attempt 2) and the result is still exact
    DeltaLog.deleteWhere(spark, t, col("k") === 1L)
    assert(attempts() == 2)
    assert(DeltaLog.read(spark, t).count() == 0L)
  }

  test("metadata-only sweep rebases over a concurrent out-of-range append") {
    val t = fresh()
    GraftSql.exec(spark, s"CREATE TABLE delta.`$t` (k BIGINT, day STRING)")
    DeltaLog.write(spark, (0L until 20L).map(i => (i, s"d${i % 2}"))
      .toDF("k", "day").repartition(1), t, mode = "append",
      partitionBy = Seq("day"))
    val base = DeltaLog.snapshot(spark, t).version
    // the racer appends into the SURVIVING partition while the sweep is
    // pinned — its add provably can't match day='d0', so the sweep
    // commits at the tip without recompute
    val attempts = raceOnce(() =>
      DeltaLog.write(spark, Seq((100L, "d1")).toDF("k", "day"), t,
        mode = "append", partitionBy = Seq("day")))
    val v = DeltaLog.deleteWhere(spark, t, col("day") === "d0")
    assert(v == base + 2)
    assert(attempts() == 1, "out-of-range append must rebase, not recompute")
    val got = DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
    assert(got == ((0L until 20L).filter(_ % 2 == 1)
      .map(i => (i, "d1")) :+ ((100L, "d1"))).toSet)
    // and no deletion vectors: the sweep removed whole files
    assert(DeltaLog.snapshot(spark, t).fileEntries.forall(_.dv.isEmpty))
  }

  test("disjoint-file delete/delete rebases with zero wasted work") {
    val t = fresh(); seed(t) // two rows, two files
    val attempts = raceOnce(() => {
      DeltaLog.deleteWhere(spark, t, col("k") === 2L); ()
    })
    // zone maps scope each DELETE to its own file and neither commit
    // carries a protocol change → the loser REBASES on attempt 1
    DeltaLog.deleteWhere(spark, t, col("k") === 1L)
    assert(attempts() == 1)
    assert(DeltaLog.read(spark, t).count() == 0L)
  }

  test("concurrent metadata change recomputes, not rebases") {
    val t = fresh(); seed(t)
    val attempts = raceOnce(() =>
      GraftSql.exec(spark,
        s"ALTER TABLE delta.`$t` SET TBLPROPERTIES ('graft.note'='x')"))
    DeltaLog.updateWhere(spark, t, col("k") === 1L, Map("v" -> lit("A")))
    assert(attempts() == 2)
    val got = DeltaLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "A", 2L -> "b"))
    // the property set by the "winner" survived the recomputed UPDATE
    assert(DeltaLog.snapshot(spark, t).configuration.get("graft.note")
      .contains("x"))
  }

  test("Serializable isolation: a blind append MATCHING the predicate recomputes") {
    val t = fresh()
    seed(t, " TBLPROPERTIES ('delta.isolationLevel'='Serializable')")
    val attempts = raceOnce(() =>
      DeltaLog.write(spark, Seq((1L, "dup")).toDF("k", "v"), t, mode = "append"))
    DeltaLog.updateWhere(spark, t, col("k") === 1L, Map("v" -> lit("A")))
    // the appended k=1 row's stats overlap the predicate → conflict →
    // recompute, which then updates BOTH k=1 rows (serial history)
    assert(attempts() == 2)
    val got = DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "A"), (2L, "b")))
  }

  test("Serializable isolation: a provably disjoint blind append rebases") {
    val t = fresh()
    seed(t, " TBLPROPERTIES ('delta.isolationLevel'='Serializable')")
    val attempts = raceOnce(() =>
      DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append"))
    DeltaLog.updateWhere(spark, t, col("k") === 1L, Map("v" -> lit("A")))
    // stats of the appended file (k: 9..9) prove it cannot match k=1 —
    // no conflict even under Serializable (stats-precise checking)
    assert(attempts() == 1)
    val got = DeltaLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "A", 2L -> "b", 9L -> "z"))
  }

  test("UPDATEs on provably disjoint keys commute without recompute") {
    val t = fresh(); seed(t)
    DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append")
    val attempts = raceOnce(() => {
      DeltaLog.updateWhere(spark, t, col("k") === 9L, Map("v" -> lit("Z9"))); ()
    })
    // the winner rewrote the k=9 file (non-blind); its new file's stats
    // (k: 9..9) prove no overlap with this UPDATE's k=1 read — rebase
    DeltaLog.updateWhere(spark, t, col("k") === 1L, Map("v" -> lit("A")))
    assert(attempts() == 1)
    val got = DeltaLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "A", 2L -> "b", 9L -> "Z9"))
  }

  test("checkConflicts classifies each conflict with its typed exception") {
    val t = fresh(); seed(t)
    val snap = DeltaLog.snapshot(spark, t)
    val file = snap.files.head
    val base = snap.version

    // blind append → no conflict under WriteSerializable
    DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append")
    DeltaLog.checkConflicts(spark, t, base, base + 1,
      DeltaLog.TxnReadInfo(Set(file), Set(file)), Map.empty)
    // …but a conflict under Serializable
    intercept[ConcurrentAppendException] {
      DeltaLog.checkConflicts(spark, t, base, base + 1,
        DeltaLog.TxnReadInfo(Set(file), Set(file)),
        Map("delta.isolationLevel" -> "Serializable"))
    }

    // non-blind dataChange commit (UPDATE rewrites a file) → append
    // conflict even when the paths differ
    val v2 = DeltaLog.updateWhere(spark, t, col("k") === 9L,
      Map("v" -> lit("Z")))
    intercept[ConcurrentAppendException] {
      DeltaLog.checkConflicts(spark, t, v2 - 1, v2,
        DeltaLog.TxnReadInfo(Set("other"), Set("other")), Map.empty)
    }
    // the same UPDATE's remove, against a txn that READ that file
    val removed = DeltaLog.readCommitActions(spark, t, v2)
      .filter(_.contains("\"remove\""))
    assert(removed.nonEmpty)
    val removedPath = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().readTree(removed.head).get("remove").get("path").asText()
    intercept[ConcurrentDeleteReadException] {
      DeltaLog.checkConflicts(spark, t, v2 - 1, v2,
        DeltaLog.TxnReadInfo(Set(removedPath), Set.empty), Map.empty)
    }
    intercept[ConcurrentDeleteDeleteException] {
      DeltaLog.checkConflicts(spark, t, v2 - 1, v2,
        DeltaLog.TxnReadInfo(Set(removedPath), Set(removedPath)), Map.empty)
    }

    // metadata change
    GraftSql.exec(spark,
      s"ALTER TABLE delta.`$t` SET TBLPROPERTIES ('graft.note'='x')")
    val v3 = DeltaLog.snapshot(spark, t).version
    intercept[MetadataChangedException] {
      DeltaLog.checkConflicts(spark, t, v3 - 1, v3,
        DeltaLog.TxnReadInfo(Set.empty, Set.empty), Map.empty)
    }

    // SetTransaction under an asserted appId
    DeltaLog.write(spark, Seq((10L, "y")).toDF("k", "v"), t,
      mode = "append", txn = Some(("app-1", 7L)))
    val v4 = DeltaLog.snapshot(spark, t).version
    intercept[ConcurrentTransactionException] {
      DeltaLog.checkConflicts(spark, t, v4 - 1, v4,
        DeltaLog.TxnReadInfo(Set.empty, Set.empty, Set("app-1")), Map.empty)
    }
    // a different appId does not conflict (the commit is a blind append)
    DeltaLog.checkConflicts(spark, t, v4 - 1, v4,
      DeltaLog.TxnReadInfo(Set.empty, Set.empty, Set("app-2")), Map.empty)
  }

  test("one commit gate per table however its path is spelled: no lost append") {
    val t = fresh()
    DeltaLog.write(spark, Seq(-1L).toDF("x"), t)
    // two spellings of ONE table, two writers each; same-JVM writers must
    // serialize on one gate, or two of them pass `!exists` together and
    // the second rename silently replaces the first commit
    val writers = Seq(t, s"file:$t", t, s"file:$t")
    val rounds = 3
    // line every writer up right before its commit ...
    val barrier = new java.util.concurrent.CyclicBarrier(writers.size)
    val lined = new ThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = false
    }
    DeltaLog.raceHook = (_, _) =>
      if (!lined.get) {
        lined.set(true)
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    // ... and stall each commit between its exists-check and its rename
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = conf.get("fs.file.impl")
    conf.set("fs.file.impl", classOf[SlowCommitProbeFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers.size)
    val versions = try (0 until rounds).flatMap { r =>
      writers.zipWithIndex.map { case (sp, i) =>
        pool.submit(() => {
          lined.set(false)
          DeltaLog.write(spark, Seq(r * 10L + i).toDF("x"), sp, "append")
        })
      }.map(_.get())
    } finally {
      pool.shutdown()
      conf.set("fs.file.impl", impl)
      conf.unset("fs.file.impl.disable.cache")
    }
    assert(versions.distinct.size == versions.size,
      s"two writers reported the same version: ${versions.sorted}")
    assert(DeltaLog.snapshot(spark, t).version == rounds * writers.size)
    val want = -1L +: (0 until rounds).flatMap(r => writers.indices.map(r * 10L + _))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == want.sorted)
  }

  test("no lost commit across processes: forked writers race one table") {
    val t = fresh()
    DeltaLog.write(spark, Seq(-1L).toDF("x"), t)
    val barrier = Files.createTempDirectory("graft-barrier-")
    val (writers, rounds) = (2, 4)
    // the child JVMs get this JVM's classpath and module opens (the JVM
    // reports each `--add-opens` flag in its `--add-opens=` form)
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filter(_.startsWith("--add-opens="))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val t0 = System.nanoTime()
    val children = (0 until writers).map { id =>
      val log = barrier.resolve(s"child-$id.log").toFile
      val pb = new ProcessBuilder((Seq(javaBin, "-Xmx768m") ++ opens ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        CrossProcessAppender.getClass.getName.stripSuffix("$"),
        t, barrier.toString, id.toString, writers.toString, rounds.toString)).asJava)
      pb.redirectErrorStream(true).redirectOutput(log)
      (pb.start(), log)
    }
    val versions = try children.flatMap { case (proc, log) =>
      val done = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
      val out = new String(Files.readAllBytes(log.toPath), "UTF-8")
      assert(done && proc.exitValue() == 0, s"writer failed:\n${out.takeRight(4000)}")
      out.linesIterator.collectFirst { case l if l.startsWith("VERSIONS ") =>
        l.stripPrefix("VERSIONS ").split(",").map(_.toLong).toSeq
      }.getOrElse(fail(s"no VERSIONS line:\n${out.takeRight(4000)}"))
    } finally children.foreach(_._1.destroyForcibly())
    info(f"${writers} writer JVMs x $rounds rounds: ${(System.nanoTime() - t0) / 1e9}%.1f s wall")
    assert(versions.distinct.size == writers * rounds,
      s"two writers reported the same version: ${versions.sorted}")
    assert(DeltaLog.snapshot(spark, t).version == writers * rounds)
    val want = -1L +: (0 until writers).flatMap(id =>
      (0 until rounds).map(r => CrossProcessAppender.row(id, r)))
    assert(DeltaLog.read(spark, t).as[Long].collect().sorted.toSeq == want.sorted)
  }

  test("version-0 publishers refuse a foreign commit 0 and leave no temp file") {
    val src = fresh()
    DeltaLog.write(spark, Seq(1L, 2L).toDF("x"), src)
    val publishers: Seq[(String, String => Long, String)] = Seq(
      ("cloneShallow", tgt => DeltaLog.cloneShallow(spark, src, tgt),
        "gained a commit concurrently"),
      ("cloneDeep", tgt => DeltaLog.cloneDeep(spark, src, tgt),
        "gained a commit concurrently"),
      ("convertToDelta", tgt => {
        Seq(1L, 2L).toDF("x").write.parquet(tgt)
        DeltaLog.convertToDelta(spark, tgt)
      }, "minted"))
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = conf.get("fs.file.impl")
    conf.set("fs.file.impl", classOf[ForeignCommitProbeFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try publishers.foreach { case (name, publish, msg) =>
      val tgt = fresh()
      val e = intercept[RuntimeException](publish(tgt))
      assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
      val log = new java.io.File(tgt, "_delta_log")
      assert(Files.readAllBytes(log.toPath.resolve(f"${0L}%020d.json"))
        .sameElements(ForeignCommitProbeFileSystem.commit),
        s"$name replaced the foreign commit")
      val leaked = log.list().filter(_.endsWith(".tmp"))
      assert(leaked.isEmpty, s"$name leaked ${leaked.mkString(", ")}")
    } finally {
      conf.set("fs.file.impl", impl)
      conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("pinned metadata commits lose a race with CommitRaceException") {
    // SET DOMAIN METADATA, RESTORE and ALTER never rebase: a commit that
    // lands between their pin and their publish aborts them with the
    // same typed race error whichever step notices it
    val ops: Seq[(String, String => Long)] = Seq(
      "SET DOMAIN METADATA" -> (t =>
        DeltaLog.setDomainMetadata(spark, t, "graft.test", """{"n":1}""")),
      "RESTORE" -> (t => DeltaLog.restore(spark, t, 1L)),
      "ALTER ADD COLUMNS" -> (t => DeltaLog.alterAddColumns(spark, t,
        new org.apache.spark.sql.types.StructType().add("w", "string"))))
    ops.foreach { case (name, op) =>
      val t = fresh(); seed(t)
      DeltaLog.write(spark, Seq((3L, "c")).toDF("k", "v"), t, mode = "append")
      val attempts = raceOnce(() =>
        DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append"))
      val e = intercept[CommitRaceException](op(t))
      assert(e.getMessage.contains("concurrent commit"), s"$name: ${e.getMessage}")
      assert(attempts() == 1, name)
      // the injected append stays committed; the op left no trace
      val snap = DeltaLog.snapshot(spark, t)
      assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toMap ==
        Map(1L -> "a", 2L -> "b", 3L -> "c", 9L -> "z"), name)
      assert(snap.domainMetadata.get("graft.test").isEmpty, name)
      assert(!snap.schema.get.fieldNames.contains("w"), name)
    }
  }

  test("unpinned rewrites abort on a commit that lands while they stage") {
    // a full OVERWRITE derives its removes from the table it staged
    // against, and a first-time COPY INTO its ingestion set: neither may
    // move past an append that committed in between
    def raced(name: String, t: String)(op: => Unit): Map[Long, String] = {
      val before = DeltaLog.latestVersion(spark, t)
      val attempts = raceOnce(() =>
        DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append"))
      val e = intercept[CommitRaceException](op)
      assert(e.getMessage.contains("concurrent commit"), s"$name: ${e.getMessage}")
      assert(attempts() == 1, name)
      // only the injected append landed
      assert(DeltaLog.latestVersion(spark, t) == Some(before.fold(0L)(_ + 1)), name)
      DeltaLog.read(spark, t).as[(Long, String)].collect().toMap
    }
    val ow = fresh(); seed(ow)
    assert(raced("OVERWRITE", ow)(DeltaLog.write(spark,
      Seq((5L, "e")).toDF("k", "v"), ow, mode = "overwrite")) ==
      Map(1L -> "a", 2L -> "b", 9L -> "z"))

    val src = Files.createTempDirectory("graft-conc-src-").toString + "/in"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(src)
    val ci = fresh()
    assert(raced("COPY INTO", ci)(DeltaLog.copyInto(spark, ci, src)) == Map(9L -> "z"))
    // the aborted COPY INTO recorded nothing: a re-run ingests each file once
    assert(DeltaLog.copyInto(spark, ci, src)._2 > 0)
    assert(DeltaLog.copyInto(spark, ci, src)._2 == 0)
    assert(DeltaLog.read(spark, ci).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (9L, "z")))
  }

  test("append commits declare isBlindAppend; rewrites do not") {
    val t = fresh(); seed(t)
    val vAppend = DeltaLog.snapshot(spark, t).version
    val appendCi = DeltaLog.readCommitActions(spark, t, vAppend)
      .find(_.contains("commitInfo")).get
    assert(appendCi.contains("\"isBlindAppend\":true"))
    val vUp = DeltaLog.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit("A")))
    val upCi = DeltaLog.readCommitActions(spark, t, vUp)
      .find(_.contains("commitInfo")).get
    assert(upCi.contains("\"isBlindAppend\":false"))
  }
}

/** `file://` filesystem whose existence probe of a Delta commit file
  * answers and then stalls, holding open the window between a writer's
  * `!exists` check and its rename — the window two writers of one table
  * must never share. */
class SlowCommitProbeFileSystem extends graft.sources.FastLocalFileSystem {
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
    val found = super.exists(p)
    if (p.getParent != null && p.getParent.getName == "_delta_log" &&
        p.getName.matches("\\d{20}\\.json")) Thread.sleep(50)
    found
  }
}

/** `file://` filesystem that, as a version-0 Delta log temp file is
  * created, first drops a foreign `00000000000000000000.json` beside
  * it: another writer minting the table's log while the publisher
  * writes its temp file. */
class ForeignCommitProbeFileSystem extends graft.sources.FastLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}

  override def create(p: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    if (p.getParent != null && p.getParent.getName == "_delta_log" &&
        p.getName.startsWith(".00000") && p.getName.endsWith(".json.tmp")) {
      val dest = new Path(p.getParent, f"${0L}%020d.json")
      if (!exists(dest)) {
        val o = super.create(dest, permission, false, bufferSize,
          replication, blockSize, progress)
        try o.write(ForeignCommitProbeFileSystem.commit) finally o.close()
      }
    }
    super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object ForeignCommitProbeFileSystem {
  val commit: Array[Byte] =
    "{\"commitInfo\":{\"timestamp\":1,\"operation\":\"FOREIGN\"}}\n".getBytes("UTF-8")
}

/** One writer JVM of the cross-process race in [[ConcurrencySpec]]:
  * appends `rounds` rows to one Delta table. Before each commit it waits
  * at a file barrier until all `writers` peers reached the same round,
  * and its `file://` binding stalls every commit-file existence probe.
  * Prints `VERSIONS v1,v2,...` — the versions its appends landed at.
  *
  * Args: table, barrier dir, writer id, writers, rounds. */
object CrossProcessAppender {
  def row(id: Int, round: Int): Long = id * 1000L + round

  def main(args: Array[String]): Unit = {
    val Array(table, barrierDir, id, writers, rounds) = args
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", 1)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl",
        classOf[SlowCommitProbeFileSystem].getName)
      .getOrCreate()
    import spark.implicits._
    val dir = new java.io.File(barrierDir)
    var round = 0
    DeltaLog.raceHook = (_, _) => {
      new java.io.File(dir, s"$round-$id").createNewFile()
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (dir.list().count(_.startsWith(s"$round-")) < writers.toInt) {
        require(System.nanoTime() < deadline, s"barrier timeout in round $round")
        Thread.sleep(2)
      }
    }
    val versions = (0 until rounds.toInt).map { r =>
      round = r
      DeltaLog.write(spark, Seq(row(id.toInt, r)).toDF("x"), table, "append")
    }
    println(s"VERSIONS ${versions.mkString(",")}")
    spark.stop()
  }
}
