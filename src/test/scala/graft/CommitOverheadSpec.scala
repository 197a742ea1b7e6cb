package graft

import java.nio.file.Files

import graft.sources.DeltaLog
import graft.sources.MergeClause.{MatchedUpdate, NotMatchedInsert}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Per-commit fixed overhead must stay bounded: every optional hook in
  * `commitWrite` (bloom-index maintenance, `.crc` checksum, row
  * tracking, auto-compact, symlink manifests) has to be a strict no-op
  * — ZERO extra Spark jobs — when its feature is off. This spec meters
  * Spark jobs with a listener around the plain-table hot paths so a
  * future hook that silently adds a job per commit fails here instead
  * of showing up as a bench regression (r9 lesson: the protocol-DML
  * family drifted +40–90% from exactly this kind of creep). */
class CommitOverheadSpec extends SparkSpec {

  private def fresh(): String =
    Files.createTempDirectory("graft-jobs-").toString + "/t"

  private def df(lo: Long, n: Long) =
    spark.range(lo, lo + n).select(col("id").as("k"),
      (col("id") % 7).as("grp"), concat(lit("v"), col("id")).as("v"))

  /** Count Spark jobs submitted while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            val site = s.details.linesIterator.filter(_.contains("graft."))
              .take(3).mkString(" <- ")
            info(s"  sql ${s.executionId}: ${s.description.take(60)} || $site")
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // drain the async listener bus: job-start events for work submitted
      // inside `body` may still be in flight when it returns
      var waited = 0
      while (waited < 5000 && {
        val before = counter.get(); Thread.sleep(100); counter.get() != before
      }) waited += 100
    } finally spark.sparkContext.removeSparkListener(l)
    info(s"  => ${counter.get()} jobs")
    counter.get()
  }

  test("plain append: bounded job count, zero jobs from disabled hooks") {
    val t = fresh()
    DeltaLog.write(spark, df(0, 100).coalesce(1), t)
    // warm one append so lazy one-time init doesn't pollute the meter
    DeltaLog.write(spark, df(100, 10).coalesce(1), t, "append")
    val n = jobs { DeltaLog.write(spark, df(110, 10).coalesce(1), t, "append") }
    // Budget: the staged write itself, and nothing else — stats come
    // from the staged files' footers and log replay runs on the driver.
    // Everything optional — bloom build, crc recompute, auto-compact
    // probe, manifest — must contribute ZERO.
    assert(n <= 1, s"plain append ran $n Spark jobs — a disabled hook is paying a job")
  }

  test("key-distinct MERGE into NOT NULL columns: no separate guard job") {
    val t = fresh()
    // spark.range ids are non-nullable, so k, grp and v declare NOT NULL;
    // the MERGE's outer join makes them nullable again, so the commit
    // must check them — inside its staging write, not in a pre-pass that
    // runs the merge join a second time
    DeltaLog.write(spark, df(0, 1000).repartition(4), t)
    def upsert(lo: Long): Unit = {
      DeltaLog.merge(spark, t, df(lo, 20).coalesce(1), Seq("k"),
        Seq(MatchedUpdate(None, Map.empty), NotMatchedInsert(None, Map.empty)),
        uniqueSourceKeys = true)
      ()
    }
    upsert(990) // warm the MERGE machinery
    val n = jobs { upsert(995) }
    // measured 7; a separate NOT NULL pass re-runs the merge join and adds 4
    assert(n <= 7, s"key-distinct MERGE ran $n Spark jobs — a NOT NULL pre-pass crept back")
    assert(DeltaLog.read(spark, t).count() == 1015L)
  }

  test("DML with removes: no full-state recompute jobs on the commit path") {
    val t = fresh()
    DeltaLog.write(spark, df(0, 1000).repartition(4), t)
    DeltaLog.deleteWhere(spark, t, col("k") < 10)       // warm DV/dml machinery
    val n = jobs { DeltaLog.deleteWhere(spark, t, col("k") >= 990) }
    // deleteWhere legitimately scans candidates (prune + match + rewrite
    // or DV build) — but the COMMIT side (entriesFor lookup, checksum)
    // must stay incremental: no snapshot-wide aggregation jobs.
    assert(n <= 9, s"deleteWhere ran $n Spark jobs — commit-side state recompute crept in")
  }

  test("crc stays correct while incremental on remove-carrying commits") {
    val t = fresh()
    DeltaLog.write(spark, df(0, 200).repartition(4), t)
    DeltaLog.deleteWhere(spark, t, col("grp") === 3)
    DeltaLog.write(spark, df(200, 50).coalesce(1), t, "append")
    val report = graft.sources.Checksum.validate(spark, t).get
    assert(report.values.forall(identity), report.toString)
  }

  test("q_dml_subquery statement chain: job budget per statement") {
    // the r11 verdict's ask: the chain ran ~45-56 jobs of pure commit
    // machinery; after the r12 cuts (v0-checksum from commit deltas,
    // adds-only replay fast path, fileEntries/chunkMemo sharing,
    // entriesFor from driver state, wide-pruneFrame meta reuse) the
    // budget is gated here so creep shows up as a test failure, not a
    // bench regression. Budgets are measured-value + 2 headroom.
    val base = Files.createTempDirectory("graft-dmlchain-").toString
    val t = base + "/t"; val hot = base + "/hot"
    val src = spark.range(0, 4000).select(col("id").as("k"),
      (col("id") % 7).as("o_custkey"), (col("id") % 100 + 0.5).as("amt"))
    val nWriteT = jobs { DeltaLog.write(spark, src.repartition(4), t) }
    assert(nWriteT <= 4, s"fresh-table write ran $nWriteT jobs (v0 checksum " +
      "must derive from commit deltas, adds-only replay must skip the window)")
    val nWriteHot = jobs { DeltaLog.write(spark,
      spark.range(0, 2000).select((col("id") * 2).as("o_orderkey")), hot) }
    assert(nWriteHot <= 3, s"fresh-table write ran $nWriteHot jobs")
    val nUpdate = jobs { graft.sources.GraftSql.exec(spark,
      s"UPDATE delta.`$t` SET amt = amt + 100000 WHERE o_custkey % 3 = 0 " +
        s"AND k IN (SELECT o_orderkey FROM delta.`$hot`)") }
    assert(nUpdate <= 14,
      s"UPDATE-with-IN-subquery ran $nUpdate jobs (was 18 in r11; 12 after" +
        " the guard-skip for key-distinct sources)")
    val nDelete = jobs { graft.sources.GraftSql.exec(spark,
      s"DELETE FROM delta.`$t` WHERE amt < (SELECT avg(amt) FROM delta.`$t`)") }
    assert(nDelete <= 12,
      s"DELETE-with-scalar-subquery ran $nDelete jobs (was 13 in r11)")
    val total = nWriteT + nWriteHot + nUpdate + nDelete
    assert(total <= 29, s"q_dml_subquery chain ran $total jobs (r11: ~45)")
  }

  test("snapshot cache: unchanged log reuses the built snapshot, a commit busts it") {
    val t = fresh()
    DeltaLog.write(spark, df(0, 200).repartition(4), t)
    val a = DeltaLog.snapshot(spark, t)
    val b = DeltaLog.snapshot(spark, t)
    // identity, not equality: the cached instance carries the lazy
    // fileEntries collect, so reuse means the second read pays no replay
    // and no re-collect
    assert(a eq b, "second snapshot of an untouched log rebuilt instead of hitting the cache")
    val n = jobs { DeltaLog.snapshot(spark, t) }
    assert(n == 0, s"cached snapshot lookup ran $n Spark jobs")
    DeltaLog.write(spark, df(200, 10).coalesce(1), t, "append")
    val c = DeltaLog.snapshot(spark, t)
    assert(!(c eq b), "snapshot after a new commit returned the stale cached instance")
    assert(c.version == b.version + 1)
    // and time travel to the old version is ALSO a hit (same log contents)
    val old = DeltaLog.snapshot(spark, t, Some(b.version))
    assert(old.version == b.version)
    assert(DeltaLog.snapshot(spark, t, Some(b.version)) eq old)
  }
}
