package graft

import graft.pipelines.{Fixtures, Medallion}
import graft.sources.DeltaLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The full medallion flow with the STREAM in the loop: CDC envelopes
  * arrive on a file stream, bronze parses inside the stream (stateless),
  * silver runs per micro-batch behind foreachBatch committing one
  * Delta-protocol version per batch, and the gold fact built from the
  * streamed silver equals the all-batch pipeline exactly. Cross-batch
  * event dedup belongs to dropDuplicatesWithinWatermark (covered by
  * q_stream_dedup_watermark); here the fixture arrives in one batch. */
class StreamingMedallionSpec extends SparkSpec {

  test("CDC stream -> bronze -> silver -> gold fact equals the batch pipeline") {
    val base = java.nio.file.Files.createTempDirectory("graft-smed-").toString
    val srcDir = s"$base/cdc_trip_events"
    Fixtures.topics(spark)("trip_events").coalesce(1).write.parquet(srcDir)

    val rawStream = spark.readStream
      .schema(StructType(Seq(StructField("raw_json", StringType))))
      .parquet(srcDir)
    val bronzeStream = Medallion.bronze(rawStream, "trip_events")

    val silverPath = s"$base/silver_trips"
    val ckpt = s"$base/ckpt"
    val q = bronzeStream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        DeltaLog.write(batch.sparkSession,
          Medallion.silverTrips(batch), silverPath, "append")
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val topics = Fixtures.topics(spark)
    val silverEater = Medallion.silverEater(Medallion.bronze(topics("eater"), "eater"))
    val silverMerchant = Medallion.silverMerchant(Medallion.bronze(topics("merchant"), "merchant"))
    val dimLoc = Medallion.dimLocation(silverEater, silverMerchant)

    val streamedSilver = DeltaLog.read(spark, silverPath)
    val factFromStream = Medallion.tripFact(streamedSilver, dimLoc, silverMerchant)
    val factFromBatch = Medallion.tripFact(
      Medallion.silverTrips(Medallion.bronze(topics("trip_events"), "trip_events")),
      dimLoc, silverMerchant)

    assert(factFromStream.count() == 3)
    // materialize both sides: the two facts share the dim subplans, and
    // exceptAll over plans with overlapping attribute ids miscompiles
    val a = factFromStream.localCheckpoint(true)
    val b = factFromBatch.localCheckpoint(true)
    assert(a.exceptAll(b).count() == 0
      && b.exceptAll(a).count() == 0,
      "gold fact from the streamed silver diverged from the batch pipeline")
    // the stream committed versioned silver: one APPEND per micro-batch
    assert(DeltaLog.history(spark, silverPath).select("operation").collect()
      .map(_.getString(0)).toSet == Set("APPEND"))
  }

  test("silver streams from a bronze PROTOCOL table (S2) and equals the batch result") {
    // the reference's dlt.read_stream shape: the bronze CDC feed lives in
    // a managed Delta table; silver tails its LOG (graft-delta source),
    // not a directory listing
    val base = java.nio.file.Files.createTempDirectory("graft-smed2-").toString
    val bronzeTbl = s"$base/bronze_trip_events"
    graft.sources.DeltaLog.write(spark,
      Fixtures.topics(spark)("trip_events"), bronzeTbl)

    val stream = spark.readStream.format("graft-delta").load(bronzeTbl)
    assert(stream.isStreaming)
    val bronzeStream = Medallion.bronze(stream, "trip_events")
    val silverPath = s"$base/silver_trips"
    val q = bronzeStream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        DeltaLog.write(batch.sparkSession,
          Medallion.silverTrips(batch), silverPath, "append")
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val batchSilver = Medallion.silverTrips(
      Medallion.bronze(Fixtures.topics(spark)("trip_events"), "trip_events"))
    val a = DeltaLog.read(spark, silverPath).localCheckpoint(true)
    val b = batchSilver.localCheckpoint(true)
    assert(a.count() == 17)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "silver streamed from the bronze table diverged from the batch pipeline")
  }

  test("graft-delta source: offsets are versions — restart resumes, exactly once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dstream-").toString
    val src = s"$base/src"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    graft.sources.DeltaLog.write(spark, spark.range(0L, 5L).toDF("x"), src)

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-delta").load(src)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          DeltaLog.write(batch.sparkSession, batch, sink, "append"); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(DeltaLog.read(spark, sink).as[Long].collect().sorted.toSeq ==
      (0L to 4L))
    // two more commits land between runs; the restarted query reads ONLY
    // them (offset checkpoint = last committed version, no reprocessing)
    graft.sources.DeltaLog.write(spark, spark.range(5L, 8L).toDF("x"), src, "append")
    graft.sources.DeltaLog.write(spark, spark.range(8L, 10L).toDF("x"), src, "append")
    runOnce()
    assert(DeltaLog.read(spark, sink).as[Long].collect().sorted.toSeq ==
      (0L to 9L), "restart must resume from the committed version, no dupes, no gaps")
    // idle restart: nothing new, nothing re-emitted
    runOnce()
    assert(DeltaLog.read(spark, sink).count() == 10L)
  }

  test("maxFilesPerTrigger chunks the snapshot; a chunk boundary survives a crash") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dstream3-").toString
    val src = s"$base/src"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    // 10 files x 10 rows: with maxFilesPerTrigger=3 the initial snapshot
    // must arrive as 4 micro-batches, not one
    graft.sources.DeltaLog.write(spark,
      spark.range(0L, 100L).toDF("x").repartition(10), src)
    assert(graft.sources.DeltaLog.snapshot(spark, src).files.size == 10)

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(failAtBatch: Option[Long]): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("maxFilesPerTrigger", "3").load(src)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (failAtBatch.contains(id)) sys.error("injected crash")
          batchSizes.synchronized { batchSizes += batch.count() }
          DeltaLog.write(batch.sparkSession, batch, sink, "append"); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // crash before the third chunk commits: exactly two 3-file chunks
    // landed, covering strictly less than the table
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(failAtBatch = Some(2L))
    }
    val afterCrash = batchSizes.synchronized(batchSizes.toSeq)
    assert(afterCrash.size == 2 && afterCrash.sum < 100L,
      s"two 3-file chunks should have committed before the crash: $afterCrash")
    // restart resumes AT the chunk boundary: replays batch 2, finishes
    run(failAtBatch = None)
    assert(DeltaLog.read(spark, sink).as[Long].collect().sorted.toSeq ==
      (0L to 99L), "chunked snapshot must deliver every row exactly once")
    assert(batchSizes.synchronized(batchSizes.size) >= 4,
      s"snapshot must arrive chunked, got batches of $batchSizes")
    // appends also respect the cap across versions: 4 + 2 files arrive
    // in at least two further chunks, every row exactly once
    graft.sources.DeltaLog.write(spark,
      spark.range(100L, 140L).toDF("x").repartition(4), src, "append")
    graft.sources.DeltaLog.write(spark,
      spark.range(140L, 160L).toDF("x").repartition(2), src, "append")
    batchSizes.synchronized(batchSizes.clear())
    run(failAtBatch = None)
    assert(DeltaLog.read(spark, sink).as[Long].collect().sorted.toSeq ==
      (0L to 159L))
    assert(batchSizes.synchronized(batchSizes.size) >= 2,
      s"6 new files under a 3-file cap need >= 2 chunks: $batchSizes")
  }

  test("graft-delta SINK: exactly-once protocol appends, log-to-log pipeline") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dsink-").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ckpt = s"$base/ckpt"
    graft.sources.DeltaLog.write(spark, spark.range(0L, 50L).toDF("x"), src)

    // log → transform → log, both ends on the protocol, no foreachBatch
    def run(): Unit = {
      val q = spark.readStream.format("graft-delta").load(src)
        .withColumn("y", $"x" * 2)
        .writeStream.format("graft-delta")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    run()
    val got = graft.sources.DeltaLog.read(spark, dst)
      .select("x", "y").as[(Long, Long)].collect().sorted.toSeq
    assert(got == (0L until 50L).map(x => (x, x * 2)))

    // replayed batch: delete the engine's commit log so the SAME batch
    // re-fires; the sink's txn state must make the rerun a no-op
    val f = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(s"$ckpt/commits/0"), false)
    run()
    assert(graft.sources.DeltaLog.read(spark, dst).count() == 50L,
      "a replayed micro-batch must not double-append")

    // new data flows incrementally; Complete-mode aggregate overwrites
    graft.sources.DeltaLog.write(spark,
      spark.range(50L, 60L).toDF("x"), src, mode = "append")
    run()
    assert(graft.sources.DeltaLog.read(spark, dst).count() == 60L)
    val aggDst = s"$base/agg"
    val q2 = spark.readStream.format("graft-delta").load(src)
      .groupBy(($"x" % 2).as("parity")).count()
      .writeStream.format("graft-delta").outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt2")
      .trigger(Trigger.AvailableNow())
      .start(aggDst)
    q2.awaitTermination()
    val agg = graft.sources.DeltaLog.read(spark, aggDst)
      .as[(Long, Long)].collect().toMap
    assert(agg == Map(0L -> 30L, 1L -> 30L), agg.toString)
  }

  test("startingVersion skips the initial snapshot and tails the log") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-startv-").toString
    val src = s"$base/src"
    graft.sources.DeltaLog.write(spark, spark.range(0L, 50L).toDF("x"), src) // v0
    graft.sources.DeltaLog.write(spark, spark.range(50L, 60L).toDF("x"), src,
      mode = "append")                                                       // v1
    graft.sources.DeltaLog.write(spark, spark.range(60L, 70L).toDF("x"), src,
      mode = "append")                                                       // v2

    def drain(ckpt: String, opts: Map[String, String]): Seq[Long] = {
      val sink = s"$base/out-${ckpt.hashCode.toHexString}"
      val reader = opts.foldLeft(
        spark.readStream.format("graft-delta")) { case (r, (k, v)) => r.option(k, v) }
      val q = reader.load(src).writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      scala.util.Try(spark.read.parquet(sink).as[Long].collect().sorted.toSeq)
        .getOrElse(Seq.empty)
    }
    // numeric anchor: versions >= 2 only — the 50-row snapshot and v1
    // never enter the stream
    assert(drain(s"$base/ck2", Map("startingVersion" -> "2")) == (60L until 70L))
    // 'latest': nothing yet; a later append streams alone
    val ckL = s"$base/ckL"
    assert(drain(ckL, Map("startingVersion" -> "latest")).isEmpty)
    graft.sources.DeltaLog.write(spark, spark.range(100L, 103L).toDF("x"), src,
      mode = "append")
    assert(drain(ckL, Map("startingVersion" -> "latest")) == (100L until 103L))
    // restart-exactness: the numeric stream's checkpoint resumes past v2
    graft.sources.DeltaLog.write(spark, spark.range(200L, 202L).toDF("x"), src,
      mode = "append")
    assert(drain(s"$base/ck2", Map("startingVersion" -> "2")) ==
      ((60L until 70L) ++ (100L until 103L) ++ (200L until 202L)))
  }

  test("ignoreDeletes skips pure delete commits; rewrites still refuse") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-igdel-").toString
    val src = s"$base/src"
    graft.sources.DeltaLog.write(spark,
      (0L until 30L).map(i => (i, s"d${i % 3}")).toDF("k", "day")
        .repartition(1), src, partitionBy = Seq("day"))
    def drain(ckpt: String): Seq[Long] = {
      val sink = s"$base/out"
      val q = spark.readStream.format("graft-delta")
        .option("ignoreDeletes", "true").load(src)
        .select("k").writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(sink).as[Long].collect().sorted.toSeq
    }
    val ckpt = s"$base/ckpt"
    assert(drain(ckpt) == (0L until 30L))
    // a retention sweep (pure whole-file delete) streams past silently
    graft.sources.DeltaLog.deleteWhere(spark, src, col("day") === "d0")
    graft.sources.DeltaLog.write(spark, Seq((100L, "d1")).toDF("k", "day"),
      src, mode = "append", partitionBy = Seq("day"))
    assert(drain(ckpt) == ((0L until 30L) :+ 100L))
    // but an UPDATE rewrite (removes AND adds) still fails the SAME
    // stream when it reaches that commit incrementally
    graft.sources.DeltaLog.updateWhere(spark, src, col("k") === 2L,
      Map("k" -> lit(999L)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(ckpt); ()
    }
    assert(e.getMessage.contains("removes files"), e.getMessage)
  }

  test("graft-delta MERGE sink: exactly-once streaming upserts") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-msink-").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    val ckpt = s"$base/ckpt"
    graft.sources.DeltaLog.write(spark,
      (0L until 10L).map(i => (i, s"a$i", 1L)).toDF("id", "v", "ts"), src)

    def run(): Unit = {
      val q = spark.readStream.format("graft-delta").load(src)
        .writeStream.format("graft-delta")
        .option("mergeKeys", "id").option("recencyCol", "ts")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    run()
    def state(): Map[Long, (String, Long)] =
      graft.sources.DeltaLog.read(spark, dst).as[(Long, String, Long)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(state() == (0L until 10L).map(i => i -> (s"a$i", 1L)).toMap)

    // a change wave: newer versions of 5 keys + one new key — the keyed
    // state advances, history does NOT accumulate
    graft.sources.DeltaLog.write(spark,
      ((0L until 5L).map(i => (i, s"b$i", 2L)) :+ ((10L, "a10", 1L)))
        .toDF("id", "v", "ts"), src, mode = "append")
    run()
    val want2 = ((0L until 5L).map(i => i -> (s"b$i", 2L)) ++
      (5L until 10L).map(i => i -> (s"a$i", 1L)) :+ (10L -> ("a10", 1L))).toMap
    assert(state() == want2)
    assert(graft.sources.DeltaLog.read(spark, dst).count() == 11L,
      "upsert must not accumulate history")

    // replayed batch: delete the engine's commit marker so the same
    // micro-batch re-fires — the MERGE's own SetTransaction makes the
    // rerun a no-op (exactly-once without a side-channel)
    val f = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = f.listStatus(new org.apache.hadoop.fs.Path(s"$ckpt/commits"))
      .map(_.getPath).filter(_.getName.forall(_.isDigit))
    f.delete(commits.maxBy(_.getName.toLong), false)
    val vBefore = graft.sources.DeltaLog.snapshot(spark, dst).version
    run()
    assert(state() == want2, "a replayed batch must not re-merge")
    assert(graft.sources.DeltaLog.snapshot(spark, dst).version == vBefore,
      "a replayed batch must commit nothing")

    // a LATE (older-ts) change must not regress the keyed state
    graft.sources.DeltaLog.write(spark,
      Seq((0L, "stale", 0L)).toDF("id", "v", "ts"), src, mode = "append")
    run()
    assert(state() == want2, "an older change must lose to the recency guard")
  }

  test("many-file initial snapshot streams with bounded driver state") {
    import spark.implicits._
    // 10^4 files, 1 row each: the 100 TB shape in miniature. The source
    // must chunk the snapshot WITHOUT ever materializing all entries on
    // the driver — the collect meter records the largest single
    // FileEntry collect any stream performed.
    val base = java.nio.file.Files.createTempDirectory("graft-dstream4-").toString
    val src = s"$base/src"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    graft.sources.DeltaLog.write(spark,
      spark.range(0L, 10000L).toDF("x").repartition(10000), src)
    assert(graft.sources.DeltaLog.countRows(spark, src) == 10000L)

    graft.streaming.DeltaStreamSource.resetCollectMeter()
    val q = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "2000").load(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        DeltaLog.write(batch.sparkSession, batch, sink, "append"); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    assert(DeltaLog.read(spark, sink).count() == 10000L,
      "every row exactly once through the chunked snapshot")
    val peak = graft.streaming.DeltaStreamSource.maxDriverEntriesPerCollect
    assert(peak > 0L && peak <= 2000L,
      s"driver-collected entries per batch must be <= maxFilesPerTrigger, got $peak")

    // the unpruned BATCH read of the same many-file table also plans in
    // bounded chunks: with a 2000-entry chunk cap, no single driver
    // collect may exceed it, and the unioned plan still reads every row
    spark.conf.set("spark.graft.read.maxEntriesPerChunk", "2000")
    try {
      graft.sources.DeltaLog.resetReadCollectMeter()
      assert(graft.sources.DeltaLog.read(spark, src).count() == 10000L)
      val readPeak = graft.sources.DeltaLog.maxDriverEntriesPerReadChunk
      assert(readPeak > 0L && readPeak <= 2000L,
        s"full-read driver chunk must be <= maxEntriesPerChunk, got $readPeak")
    } finally spark.conf.unset("spark.graft.read.maxEntriesPerChunk")
  }

  test("maxBytesPerTrigger chunks by bytes; chunk boundaries survive restart") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dbytes-").toString
    val src = s"$base/src"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    // 10 similar-size files; a budget of ~3 files' bytes must deliver
    // the snapshot in several batches of roughly 3 files each
    graft.sources.DeltaLog.write(spark,
      spark.range(0L, 100L).toDF("x").repartition(10), src)
    val totalBytes = graft.sources.DeltaLog.snapshot(spark, src).allFiles
      .agg(sum("size")).head().getLong(0)
    val budget = totalBytes * 3 / 10 + 1

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(failAtBatch: Option[Long]): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("maxBytesPerTrigger", budget.toString).load(src)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (failAtBatch.contains(id)) sys.error("injected crash")
          batchSizes.synchronized { batchSizes += batch.count() }
          DeltaLog.write(batch.sparkSession, batch, sink, "append"); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(failAtBatch = Some(2L))
    }
    val afterCrash = batchSizes.synchronized(batchSizes.toSeq)
    assert(afterCrash.size == 2 && afterCrash.sum < 100L,
      s"two byte-budget chunks should have committed before the crash: $afterCrash")
    run(failAtBatch = None)
    assert(DeltaLog.read(spark, sink).as[Long].collect().sorted.toSeq ==
      (0L to 99L), "byte-chunked snapshot must deliver every row exactly once")
    val all = batchSizes.synchronized(batchSizes.toSeq)
    assert(all.size >= 3, s"10 files under a ~3-file byte budget need >= 3 chunks: $all")
    // appends also flow under the byte budget
    graft.sources.DeltaLog.write(spark,
      spark.range(100L, 140L).toDF("x").repartition(4), src, "append")
    run(failAtBatch = None)
    assert(DeltaLog.read(spark, sink).as[Long].collect().sorted.toSeq ==
      (0L to 139L))
  }

  test("graft-delta source: DV-aware snapshot; change commits refuse or skip") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dstream2-").toString
    val src = s"$base/src"
    val sink = s"$base/sink"
    val ckpt = s"$base/ckpt"
    graft.sources.DeltaLog.write(spark, spark.range(0L, 10L).toDF("x"), src)
    graft.sources.DeltaLog.deleteWhere(spark, src, $"x".isin(3L, 4L)) // v1: DV

    def runOnce(opts: Map[String, String] = Map.empty): Unit = {
      val r = spark.readStream.format("graft-delta").options(opts).load(src)
      val q = r.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          DeltaLog.write(batch.sparkSession, batch, sink, "append"); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // initial snapshot applies the deletion vector: masked rows never stream
    runOnce()
    assert(DeltaLog.read(spark, sink).as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 5L, 6L, 7L, 8L, 9L))
    // a change commit (DELETE) inside the window refuses loudly...
    graft.sources.DeltaLog.deleteWhere(spark, src, $"x" === 0L)     // v2: remove+readd
    graft.sources.DeltaLog.write(spark, Seq(15L).toDF("x"), src, "append") // v3
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    assert(e.getMessage.contains("removes files") ||
      Option(e.getCause).exists(_.getMessage.contains("removes files")), e.getMessage)
    // ...and skipChangeCommits skips it whole, still delivering the append
    runOnce(Map("skipChangeCommits" -> "true"))
    val got = DeltaLog.read(spark, sink).as[Long].collect().sorted.toSeq
    assert(got == Seq(0L, 1L, 2L, 5L, 6L, 7L, 8L, 9L, 15L),
      s"skipChangeCommits must skip the DELETE commit, keep the append: $got")
  }

  test("graft-delta CDF stream: update pairs via changeKeys, per-commit stamps, resume") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-cdfstream-").toString
    val src = s"$base/src"
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
    graft.sources.DeltaLog.write(spark,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v").coalesce(1), src)

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("changeKeys", "id")
        .load(src)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = batch.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getString(2), r.getLong(3)))
          got.synchronized { got ++= rows }; ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // anchored at version 0: the creating commit streams as inserts
    runOnce()
    assert(got.synchronized(got.sortBy(r => (r._4, r._1)).toSeq) ==
      Seq((1L, 10L, "insert", 0L), (2L, 20L, "insert", 0L), (3L, 30L, "insert", 0L)))

    // v1: copy-on-write UPDATE (rewrites the whole single file — untouched
    // neighbors must net to NO event); v2: DV DELETE (only the masked row)
    graft.sources.DeltaLog.updateWhere(spark, src, $"id" === 2L, Map("v" -> lit(21L)))
    graft.sources.DeltaLog.deleteWhere(spark, src, $"id" === 3L)
    got.synchronized(got.clear())
    runOnce()
    assert(got.synchronized(got.sortBy(r => (r._4, r._3)).toSeq) == Seq(
      (2L, 21L, "update_postimage", 1L), (2L, 20L, "update_preimage", 1L),
      (3L, 30L, "delete", 2L)),
      s"resumed CDF stream must carry exactly the new commits' row changes: $got")

    // idle restart emits nothing
    got.synchronized(got.clear())
    runOnce()
    assert(got.synchronized(got.isEmpty))

    // default mode (no changeKeys): raw insert/delete feed of the same log
    val got2 = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q2 = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", "0")
      .load(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect().map(r => (r.getString(2), r.getLong(3)))
        got2.synchronized { got2 ++= rows }; ()
      }
      .option("checkpointLocation", s"$base/ckpt2")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val byType = got2.synchronized(got2.groupBy(_._1).view.mapValues(_.size).toMap)
    // v0: 3 inserts; v1 rewrite: 3 deletes + 3 inserts; v2 DV: 1 delete
    assert(byType == Map("insert" -> 6, "delete" -> 4), byType.toString)
  }

  test("Trigger.AvailableNow: one-shot catch-up, restart consumes only the delta") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-avnow-").toString
    val src = s"$base/src"
    graft.sources.DeltaLog.write(spark, Seq(1L, 2L).toDF("x"), src)
    graft.sources.DeltaLog.write(spark, Seq(3L).toDF("x"), src, mode = "append")
    val got = new java.util.concurrent.atomic.AtomicLong
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("maxCommitsPerTrigger", "1") // several micro-batches to drain
        .load(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.addAndGet(b.count()); ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // AvailableNow TERMINATES ITSELF once caught up — the batch-
      // incremental contract (a scheduled job, not a daemon)
      assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    }
    runOnce()
    assert(got.get() == 3L, got.get().toString)
    // nothing new: a second run delivers nothing
    runOnce()
    assert(got.get() == 3L, got.get().toString)
    // an append between runs: only the delta arrives
    graft.sources.DeltaLog.write(spark, Seq(4L, 5L).toDF("x"), src, mode = "append")
    runOnce()
    assert(got.get() == 5L, got.get().toString)
  }

  test("after a schema-evolution failure, a restart resumes under the new schema") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-schres-").toString
    val src = s"$base/src"
    graft.sources.DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), src)
    val ckpt = s"$base/ckpt"
    val q = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("noop").option("checkpointLocation", ckpt).start()
    q.processAllAvailable() // v0 consumed under (k, v)
    graft.sources.DeltaLog.write(spark,
      Seq((2L, "b", 7L)).toDF("k", "v", "extra"), src, mode = "append")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination(30000); ()
    }
    // the documented recovery: restart from the SAME checkpoint — the
    // new source instance anchors on the evolved schema and replays the
    // pending commit (v0's rows are NOT re-delivered; its offset is in
    // the checkpoint)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Option[Long])]
    val q2 = spark.readStream.format("graft-delta").load(src)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => seen.add((r.getLong(0), r.getString(1),
          if (r.length < 3 || r.isNullAt(2)) None else Some(r.getLong(2)))))
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    q2.processAllAvailable()
    q2.stop()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == Set((2L, "b", Some(7L))), seen.asScala.toSeq)
  }

  test("a schema-evolving commit fails the stream loudly, not silently") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-schchg-").toString
    val src = s"$base/src"
    graft.sources.DeltaLog.write(spark,
      Seq((1L, "a")).toDF("k", "v"), src)
    val q = spark.readStream.format("graft-delta").load(src)
      .writeStream.format("noop")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    q.processAllAvailable() // initial snapshot consumed under (k, v)
    // evolve WHILE the stream runs: widened append adds a column —
    // projecting the old shape would silently drop the new data
    graft.sources.DeltaLog.write(spark,
      Seq((2L, "b", 7L)).toDF("k", "v", "extra"), src, mode = "append")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(30000)
      ()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("schema changed"))), e.toString)

    // ordinary commits that merely RE-DECLARE metadata (identity
    // high-water advance in field METADATA, property sets) keep
    // streaming fine — names/types/nullability are what count
    val src2 = s"$base/src2"
    graft.sources.GraftSql.exec(spark,
      s"CREATE TABLE delta.`$src2` (sk BIGINT GENERATED ALWAYS AS IDENTITY, " +
        "v STRING)")
    val got = new java.util.concurrent.atomic.AtomicLong
    val q2 = spark.readStream.format("graft-delta").load(src2)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", s"$base/ckpt2")
      .start()
    q2.processAllAvailable()
    graft.sources.DeltaLog.write(spark, Seq("a").toDF("v"), src2, mode = "append")
    q2.processAllAvailable()
    graft.sources.DeltaLog.write(spark, Seq("b").toDF("v"), src2, mode = "append")
    q2.processAllAvailable()
    q2.stop()
    assert(got.get() == 2L)
  }
}
